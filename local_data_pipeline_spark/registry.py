"""Model registry: the engine's replacement for dbt + Dagster.

Reproduces the orchestration semantics of the reference
(`/root/reference/src/dagster_pipeline/defs/*.py` and `/root/reference/dbt/`):

- named models with dependency edges (≙ Dagster ``@dg.asset(deps=[...])``,
  open_meteo.py:94-119, and dbt ``ref()``/``source()``, int sql:17, stg sql:10)
- per-model materialization ``view`` | ``table`` (≙ dbt ``materialized=``,
  stg sql:4 / pres sql:2 / dbt_project.yml:15-22)
- ``build()`` runs models in topological order and then runs declared data
  tests, exactly like ``dbt build`` (dbt_defs.py:27)
- data tests ``not_null`` / ``unique`` / ``accepted_values`` / ``relationships``
  (the reference uses ``not_null``, `_int_open_meteo.yml:9-16`)
- run metadata per model (≙ ``MaterializeResult(metadata=...)``,
  open_meteo.py:83-91)

``ref()`` is function composition over DataFrames: because upstream ``view``
models stay lazy, Catalyst inlines the whole three-layer pipeline into ONE
optimized plan — predicate pushdown and column pruning flow through all
layers, which is the Spark-idiomatic version of dbt's view materialization.

100 TB notes: a ``table`` materialization writes Parquet via the session
catalog; pass ``partition_by`` so large facts land partitioned by their
natural pruning key (e.g. ``dt``).
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------- data tests
@dataclass(frozen=True)
class DataTest:
    """A dbt-style data test: ``violations()`` is an aggregate giving the
    exact count of violating rows (0 = pass, >0 = fail) over ``rows(df)``,
    or over the model's frame ``df`` itself. ``Registry.build`` runs all
    tests as ONE query after the last model; ``check``/``run`` run one."""

    name: str
    violations: Callable[[], Column]
    rows: Callable[[DataFrame], DataFrame] | None = None

    def check(self, df: DataFrame) -> int:
        return (self.rows(df) if self.rows else df).agg(self.violations()).first()[0]

    run = check


def not_null(column: str) -> DataTest:
    """≙ dbt ``not_null`` (`_int_open_meteo.yml:9-16`)."""
    return DataTest(
        name=f"not_null({column})",
        violations=lambda: F.count_if(F.col(column).isNull()),
    )


def unique(columns: str | list[str]) -> DataTest:
    """Counts rows beyond the first per key; NULL keys group together,
    as in ``GROUP BY``."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    return DataTest(
        name=f"unique({','.join(cols)})",
        violations=lambda: F.count(F.lit(1)) - F.count_distinct(F.struct(*cols)),
    )


def accepted_values(column: str, values: list) -> DataTest:
    return DataTest(
        name=f"accepted_values({column})",
        violations=lambda: F.count_if(
            ~F.col(column).isin(values) & F.col(column).isNotNull()
        ),
    )


def no_rows_where(name: str, condition: str) -> DataTest:
    """A dbt-style singular test: counts the rows matching ``condition``
    (SQL boolean expression over the model's columns)."""
    return DataTest(name=name, violations=lambda: F.count_if(F.expr(condition)))


def relationships(column: str, parent, parent_column: str) -> DataTest:
    """≙ dbt ``relationships``: every non-null ``column`` value must exist
    in ``parent``'s ``parent_column``. ``parent`` is a DataFrame or a
    zero-arg callable returning one (evaluated at check time, so it can
    close over a registry ref). The probe is a broadcast anti join —
    dimension-sized parents never shuffle the child."""

    def orphans(df: DataFrame) -> DataFrame:
        pdf = parent() if callable(parent) else parent
        keys = pdf.select(F.col(parent_column).alias(column))
        return (
            df.filter(F.col(column).isNotNull())
            .select(column)
            .join(F.broadcast(keys), column, "left_anti")
        )

    return DataTest(
        name=f"relationships({column}->{parent_column})",
        violations=lambda: F.count(F.lit(1)),
        rows=orphans,
    )


# -------------------------------------------------------------------- models
@dataclass
class Model:
    name: str
    fn: Callable[["Registry", SparkSession], DataFrame]
    deps: tuple[str, ...] = ()
    materialization: str = "view"  # "view" | "table" | "incremental" | "ephemeral"
    group: str = "default"
    description: str = ""
    tests: tuple[DataTest, ...] = ()
    partition_by: tuple[str, ...] = ()
    #: for materialization="incremental": monotonically increasing column;
    #: each build appends only rows with values beyond the stored maximum
    #: (the dbt is_incremental() watermark pattern). The reference rebuilds
    #: everything per run (SURVEY §4 incrementality: none) — this is the
    #: O(new data) upgrade path.
    incremental_col: str | None = None


@dataclass
class BuildResult:
    """Run metadata, ≙ Dagster MaterializeResult (open_meteo.py:83-91)."""

    model: str
    materialization: str
    rows: int | None  # rows written by this run (observed on the write job)
    seconds: float
    test_failures: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(v == 0 for v in self.test_failures.values())


class DataTestsFailed(AssertionError):
    """A failed ``build``: ``results`` holds every model's BuildResult."""

    def __init__(self, message: str, results: list[BuildResult]) -> None:
        super().__init__(message)
        self.results = results


class Registry:
    """Named models + topo-ordered build. One instance per pipeline."""

    def __init__(self) -> None:
        self._models: dict[str, Model] = {}
        self._cache: dict[str, DataFrame] = {}
        self._spark: SparkSession | None = None

    # -- declaration ---------------------------------------------------
    def model(
        self,
        name: str,
        *,
        deps: tuple[str, ...] | list[str] = (),
        materialization: str = "view",
        group: str = "default",
        description: str = "",
        tests: tuple[DataTest, ...] | list[DataTest] = (),
        partition_by: tuple[str, ...] | list[str] = (),
        incremental_col: str | None = None,
    ) -> Callable:
        """Decorator registering ``fn(registry, spark) -> DataFrame``."""

        def deco(fn: Callable) -> Callable:
            if name in self._models:
                raise ValueError(f"duplicate model {name!r}")
            if materialization == "incremental" and not incremental_col:
                raise ValueError(
                    f"model {name!r}: incremental materialization needs incremental_col"
                )
            self._models[name] = Model(
                name=name,
                fn=fn,
                deps=tuple(deps),
                materialization=materialization,
                group=group,
                description=description or (fn.__doc__ or "").strip(),
                tests=tuple(tests),
                partition_by=tuple(partition_by),
                incremental_col=incremental_col,
            )
            return fn

        return deco

    def source(self, name: str, df_or_fn) -> None:
        """Register an external input (≙ dbt source, `_src_open_meteo.yml`)."""
        fn = df_or_fn if callable(df_or_fn) else (lambda _r, _s: df_or_fn)
        self._models[name] = Model(name=name, fn=fn, group="source")

    # -- resolution ----------------------------------------------------
    def ref(self, name: str) -> DataFrame:
        """≙ dbt ``ref()`` / ``source()``: resolve a model to its DataFrame."""
        if name in self._cache:
            return self._cache[name]
        if self._spark is None:
            raise RuntimeError("ref() outside build(); call build/compute first")
        m = self._models[name]
        df = m.fn(self, self._spark)
        self._cache[name] = df
        return df

    def models(self) -> list[Model]:
        return list(self._models.values())

    def manifest(self) -> dict:
        """The pipeline DAG as plain data (≙ dbt ``manifest.json``, which
        the reference's Dagster bridge consumes at dbt_defs.py:13): one
        entry per model with deps, group, materialization, declared
        tests, and docs, in topological order. Drives docs rendering and
        lets external orchestrators schedule the DAG without importing
        Spark."""
        return {
            "models": [
                {
                    "name": m.name,
                    "deps": list(m.deps),
                    "group": m.group,
                    "materialization": m.materialization,
                    "description": m.description,
                    "tests": [t.name for t in m.tests],
                    "partition_by": list(m.partition_by),
                    "incremental_col": m.incremental_col,
                }
                for m in (self._models[n] for n in self.topo_order())
            ]
        }

    def docs_markdown(self) -> str:
        """Human-readable lineage docs generated from :meth:`manifest`
        (≙ dbt docs + the persisted descriptions of D8)."""
        lines = ["# Pipeline lineage", ""]
        for m in self.manifest()["models"]:
            arrow = " ← " + ", ".join(m["deps"]) if m["deps"] else ""
            lines.append(
                f"## {m['name']}  ({m['materialization']}, group={m['group']})"
                f"{arrow}"
            )
            if m["description"]:
                lines.append(m["description"])
            if m["tests"]:
                lines.append(f"tests: {', '.join(m['tests'])}")
            lines.append("")
        return "\n".join(lines)

    def topo_order(self) -> list[str]:
        order: list[str] = []
        seen: dict[str, int] = {}  # 0=visiting 1=done

        def visit(n: str) -> None:
            state = seen.get(n)
            if state == 1:
                return
            if state == 0:
                raise ValueError(f"dependency cycle at {n!r}")
            seen[n] = 0
            for d in self._models[n].deps:
                if d not in self._models:
                    raise ValueError(f"model {n!r} depends on unknown {d!r}")
                visit(d)
            seen[n] = 1
            order.append(n)

        for n in self._models:
            visit(n)
        return order

    # -- execution -----------------------------------------------------
    def compute(self, spark: SparkSession, name: str) -> DataFrame:
        """Resolve one model lazily (no materialization)."""
        self._spark = spark
        return self.ref(name)

    def build(
        self,
        spark: SparkSession,
        *,
        select: list[str] | None = None,
    ) -> list[BuildResult]:
        """≙ ``dbt build`` (dbt_defs.py:27): materialize in topo order, then
        run every model's data tests as one query; a test failure raises
        after all models have run. ``BuildResult.seconds`` covers the
        model's materialization only."""
        self._spark = spark
        self._cache.clear()
        wanted: set[str] | None = None
        if select:
            # dbt '+model' semantics: selecting a model pulls in its
            # transitive upstream dependencies automatically
            wanted = set()
            stack = list(select)
            while stack:
                n = stack.pop()
                if n in wanted:
                    continue
                if n not in self._models:
                    raise ValueError(f"unknown model in select: {n!r}")
                wanted.add(n)
                stack.extend(self._models[n].deps)
        results: list[BuildResult] = []
        # (result, frame, tests): a model's row-level tests fold into one
        # aggregate over its frame; a test with its own rows gets its own
        branches: list[tuple[BuildResult, DataFrame, list[DataTest]]] = []
        for name in self.topo_order():
            if wanted is not None and name not in wanted:
                continue
            m = self._models[name]
            t0 = time.perf_counter()
            df = self.ref(name)
            rows: int | None = None  # rows written (observed on the write job)
            if m.materialization == "view":
                df.createOrReplaceTempView(name)
            elif m.materialization in ("table", "incremental"):
                # a temp view left by a PREVIOUS build of this model
                # shadows the table name — ALTER TABLE/refresh would
                # resolve to the view and fail on a same-session rebuild
                spark.catalog.dropTempView(name)
                mode = "overwrite"
                incremental = m.materialization == "incremental"
                if incremental and spark.catalog.tableExists(name):
                    wcol = m.incremental_col
                    prev_max = spark.table(name).agg(F.max(wcol)).collect()[0][0]
                    if prev_max is not None:
                        df = df.filter(F.col(wcol) > F.lit(prev_max))
                    mode = "append"
                # the row count (rows WRITTEN THIS RUN, dbt-style
                # rows-affected) rides the write job itself (Observation),
                # not a second full scan of the written table — at scale
                # that re-scan is a whole extra pass
                obs = Observation()
                observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                writer = observed.write.mode(mode)
                if m.partition_by:
                    writer = writer.partitionBy(*m.partition_by)
                writer.saveAsTable(name)
                rows = int(obs.get["rows"])
                if not incremental and m.description:
                    # persist model docs on the table (≙ dbt +persist_docs,
                    # dbt_project.yml:11-13)
                    comment = m.description.replace("'", "''")[:256]
                    spark.sql(
                        f"ALTER TABLE {name} SET TBLPROPERTIES "
                        f"('comment' = '{comment}', 'group' = '{m.group}')"
                    )
                # a partitioned overwrite leaves stale file listings in the
                # session's relation cache when the table was read earlier
                spark.catalog.refreshTable(name)
                df = self._cache[name] = spark.table(name)
                df.createOrReplaceTempView(name)
            result = BuildResult(
                model=name,
                materialization=m.materialization,
                rows=rows,
                seconds=time.perf_counter() - t0,
                # filled in declared order once the test query has run
                test_failures=dict.fromkeys(t.name for t in m.tests),
            )
            results.append(result)
            folded = [t for t in m.tests if t.rows is None]
            branches += [(result, df, folded)] if folded else []
            branches += [(result, t.rows(df), [t]) for t in m.tests if t.rows]
        if branches:
            # one row (branch id, counts) per branch; the union is planned
            # once, so view subplans the branches share are reused
            query = functools.reduce(
                DataFrame.union,
                (
                    df.agg(F.lit(i), F.array(*[t.violations() for t in tests]))
                    for i, (_, df, tests) in enumerate(branches)
                ),
            )
            for i, counts in query.collect():
                result, _, tests = branches[i]
                result.test_failures.update(zip([t.name for t in tests], counts))
        bad = [
            f"{r.model}:{t}({n} violations)"
            for r in results
            for t, n in r.test_failures.items()
            if n
        ]
        if bad:
            raise DataTestsFailed("data tests failed: " + ", ".join(bad), results)
        return results
