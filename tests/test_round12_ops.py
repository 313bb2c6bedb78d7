"""Round-12 (driver round 6) tests: tie-inclusive local pruning in the
Arrow top-k kernel (similarity._arrow_topk, which the PQ searches use),
fail-fast guards (short PQ corpus, ridge NULLs), the S5 container-output
linter rule, the sf1-roster note sanitizer, the
bench driver-vs-local contention verdicts, and the banded fuzzy-join
plan pin."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from local_data_pipeline_spark.operators.pq import (
    adc_topk,
    exact_l2_topk,
    pq_encode,
    pq_train,
)
from local_data_pipeline_spark.operators.similarity import (
    _tie_inclusive_prune,
    brute_force_topk_arrow,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------
# tie-inclusive pruning
# ---------------------------------------------------------------------

def _kept(d, k):
    """Kept column indices per row of the vectorized prune."""
    return [set(np.flatnonzero(row).tolist()) for row in _tie_inclusive_prune(d, k)]


def _prune_row(dq, k):
    """Per-row reference: every finite entry <= the k-th smallest finite
    entry, or every finite entry when there are at most k of them."""
    finite = sorted(float(x) for x in dq if np.isfinite(x))
    if len(finite) <= k:
        return {i for i, x in enumerate(dq) if np.isfinite(x)}
    return {i for i, x in enumerate(dq) if np.isfinite(x) and x <= finite[k - 1]}


def test_tie_inclusive_prune_keeps_whole_tie_group():
    """Candidates tied at the k-th distance must ALL survive the local
    prune — argsort[:k] would keep an arbitrary partition-order subset."""
    d = np.array([
        [5.0, 1.0, 3.0, 3.0, 3.0, 9.0],
        [3.0, 3.0, 3.0, 3.0, 0.0, 1.0],
    ])
    # row 0: k-th (2nd) smallest is 3.0 -> every 3.0 stays, plus the 1.0;
    # row 1: the 2nd smallest is 1.0, so no 3.0 survives
    assert _kept(d, k=2) == [{1, 2, 3, 4}, {4, 5}]


def test_tie_inclusive_prune_short_and_empty():
    d = np.array([
        [2.0, np.inf, 1.0],
        [np.inf, np.inf, np.inf],
        # NaN sorts last: with <= k finite entries the k-th value is NaN,
        # which must keep every finite entry, not none of them
        [np.nan, 4.0, np.nan],
    ])
    assert _kept(d, k=2) == [{0, 2}, set(), {1}]
    assert _kept(d, k=10) == [{0, 2}, set(), {1}]
    assert _tie_inclusive_prune(np.empty((1, 0)), k=3).sum() == 0


def test_tie_inclusive_prune_matches_per_row_reference():
    """Random matrices with heavy ties, +inf and NaN: the vectorized
    prune keeps exactly what the per-row rule keeps."""
    rng = np.random.default_rng(7)
    for _ in range(200):
        d = rng.integers(0, 6, size=(5, 12)).astype(float)
        d[rng.random(d.shape) < 0.2] = np.inf
        d[rng.random(d.shape) < 0.2] = np.nan
        k = int(rng.integers(1, 8))
        assert _kept(d, k) == [_prune_row(row, k) for row in d], (d, k)


def test_topk_ranking_and_prune_only_in_the_kernel():
    """The per-query ranking window and the per-partition prune are
    written once, in similarity.py's top-k kernel: a second
    ``partitionBy("query_id")`` or ``np.partition`` under operators/
    would be a second copy of that decision."""
    import ast
    import os

    ops = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "local_data_pipeline_spark",
        "operators",
    )
    kernel = os.path.join(ops, "similarity.py")
    tree = ast.parse(open(kernel, encoding="utf-8").read())
    allowed = set()
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and fn.name in (
            "_rank_topk",
            "_tie_inclusive_prune",
        ):
            allowed.update(range(fn.lineno, fn.end_lineno + 1))
    bad = []
    for fname in sorted(os.listdir(ops)):
        if not fname.endswith(".py"):
            continue
        path = os.path.join(ops, fname)
        for i, line in enumerate(open(path, encoding="utf-8"), 1):
            if ('partitionBy("query_id")' in line or "np.partition" in line) and not (
                path == kernel and i in allowed
            ):
                bad.append(f"operators/{fname}:{i}")
    assert not bad, "rank and prune through similarity's kernel:\n" + "\n".join(bad)


def test_adc_topk_partition_invariant_under_distance_ties(spark):
    """Identical code tuples give bit-identical ADC distances; the final
    top-k must not depend on how the corpus is partitioned. Planted: 30
    vectors that all encode to the SAME codes (one cluster), so every
    neighbor ties and only the (dist, neighbor_id) window order decides.
    The exact-L2 and cosine searches share ADC's Arrow kernel; they run
    on all-ones vectors, whose scores are exact in floating point, so
    there too every neighbor ties bit for bit."""
    cb = [
        [[0.0, 0.0], [100.0, 100.0]],
        [[0.0, 0.0], [100.0, 100.0]],
    ]
    rows = [(i, [0.1, 0.1, 0.1, 0.1]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ones = spark.createDataFrame(
        [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    qs, ones_qs = df.filter(F.col("vec_id") == 0), ones.filter(F.col("vec_id") == 0)
    searches = {
        "adc_topk": (df, lambda c: adc_topk(qs, pq_encode(c, cb), cb, k=5)),
        "exact_l2_topk": (ones, lambda c: exact_l2_topk(ones_qs, c, k=5)),
        "brute_force_topk_arrow": (
            ones,
            lambda c: brute_force_topk_arrow(ones_qs, c, k=5),
        ),
    }
    for name, (corpus, search) in searches.items():

        def run(n_parts):
            got = search(corpus.repartition(n_parts)).collect()
            return sorted((r[0], r[1], r[3]) for r in got)

        assert run(1) == run(7) == run(13), name
        # with every score tied, the survivors are the 5 smallest ids > 0
        assert [t[1] for t in run(7)] == [1, 2, 3, 4, 5], name


def test_pq_train_raises_on_short_corpus(spark):
    """0 < rows < k used to silently build a malformed codebook with
    fewer than k centroids per subspace."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 3.0, 4.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="at least k vectors"):
        pq_train(df, m=2, k=4, n_iters=1)


# ---------------------------------------------------------------------
# ridge_fit NULL fail-fast
# ---------------------------------------------------------------------

def test_ridge_fit_null_fails_fast(spark):
    """A NULL feature must raise, not silently produce all-NaN betas."""
    from local_data_pipeline_spark.operators.ml import ridge_fit

    ok = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.1), (3.0, 5.9), (4.0, 8.2)], "x double, y double"
    )
    beta = ridge_fit(ok, ["x"], "y", lam=0.0)
    assert np.all(np.isfinite(beta))

    bad = spark.createDataFrame(
        [(1.0, 2.0), (None, 4.1), (3.0, 5.9)], "x double, y double"
    )
    with pytest.raises(Exception, match="ridge_fit"):
        ridge_fit(bad, ["x"], "y")


# ---------------------------------------------------------------------
# S5: container-typed query outputs
# ---------------------------------------------------------------------

def test_s5_container_fields_detection(spark):
    from pyspark.sql import types as T

    from tools.plan_lint import _container_fields

    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("arr", T.ArrayType(T.StringType())),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField(
                "s",
                T.StructType(
                    [T.StructField("inner", T.ArrayType(T.LongType()))]
                ),
            ),
            T.StructField(
                "s_ok", T.StructType([T.StructField("x", T.DoubleType())])
            ),
            T.StructField("b", T.StringType()),
        ]
    )
    flagged = {name for name, _ in _container_fields(schema)}
    assert flagged == {"arr", "m", "s"}


def test_fixed_queries_emit_scalar_columns_only(spark):
    """The three round-5 array-output queries now serialize their lists;
    the whole-catalog version of this check is the S5 rule inside
    test_plans.py::test_plan_linter_catalog_clean."""
    from local_data_pipeline_spark.queries import QUERIES
    from tools.plan_lint import _container_fields

    for name in (
        "inverted_index_tokens",
        "pq_encode_embeddings",
        "unigram_tokenize_documents",
    ):
        df = QUERIES[name].fn(spark, SF)
        assert _container_fields(df.schema) == [], name


def test_inverted_index_posting_list_sorted_numerically(spark):
    """The posting list must sort doc_ids as NUMBERS before joining —
    a string sort would put 10 before 2 and break the oracle hash."""
    from local_data_pipeline_spark.queries import QUERIES

    rows = [(2, "zebra word"), (10, "zebra"), (9, "zebra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("__docs_tmp")
    # drive the same expression shape directly on a tiny frame
    got = (
        df.select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
        .distinct()
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("docs")
        )
        .filter(F.col("token") == "zebra")
        .collect()
    )
    assert got[0].docs == "2,9,10"


# ---------------------------------------------------------------------
# sf1 roster note sanitization
# ---------------------------------------------------------------------

def test_sf1_note_sanitized_rows_roundtrip_merge_regex():
    import re

    from tools.gen_sf1_gate import ROW_RE, _note

    nasty = 'duckdb error: Binder Error: No function "x |> y"\nline 2 | col'
    note = _note(nasty)
    assert "|" not in note and "\n" not in note
    line = f"| some_query | FAIL | 1.2 | {note} |"
    m = re.match(ROW_RE, line)
    assert m and m.group(1) == "some_query" and m.group(4) == note


# ---------------------------------------------------------------------
# bench driver-vs-local contention verdicts
# ---------------------------------------------------------------------

def test_driver_vs_local_verdicts(tmp_path):
    import json

    from tools.compare_bench import driver_vs_local

    local = {f"q{i}": 1.0 + i * 0.1 for i in range(20)}
    p = tmp_path / "BENCH_local.json"
    p.write_text(json.dumps({"queries": local}))

    uniform = {n: v * 1.34 for n, v in local.items()}
    text = "\n".join(driver_vs_local(uniform, str(p)))
    assert "uniformly inflated 1.34x" in text and "not regression" in text

    agree = {n: v * 1.02 for n, v in local.items()}
    text = "\n".join(driver_vs_local(agree, str(p)))
    assert "trustworthy" in text

    mixed = {n: v * (4.0 if i % 2 else 1.0) for i, (n, v) in enumerate(local.items())}
    text = "\n".join(driver_vs_local(mixed, str(p)))
    assert "query-specific" in text

    text = "\n".join(driver_vs_local(uniform, str(tmp_path / "missing.json")))
    assert "no committed" in text


# ---------------------------------------------------------------------
# banded fuzzy join plan pin
# ---------------------------------------------------------------------

def test_fuzzy_pairs_join_on_brand_and_length_band(spark):
    """The length band must be an equi-join KEY (caps enumerated pairs),
    not just a post-enumeration predicate; and the probe side explodes
    to adjacent bands so no cross-band pair within edit distance 3 is
    missed."""
    import io
    import re
    from contextlib import redirect_stdout

    from local_data_pipeline_spark.queries import QUERIES

    df = QUERIES["fuzzy_part_name_pairs"].fn(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the merge join's equality keys must include the band columns
    left_keys = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", plan)
    right_keys = re.search(r"Right keys \[\d+\]: \[([^\]]*)\]", plan)
    assert left_keys and "band" in left_keys.group(1), plan[:2000]
    assert right_keys and "probe_band" in right_keys.group(1), plan[:2000]


def test_fuzzy_banding_misses_no_pairs(spark):
    """Adversarial lengths that straddle band boundaries (len 7 vs 8 ->
    bands 1 vs 2) must still pair up via the neighbor-band explode."""
    from local_data_pipeline_spark.queries import QUERIES
    import duckdb

    # build a tiny part table with boundary-straddling near-duplicates
    rows = [
        (1, "BRAND#1", "abcdefg"),     # len 7, band 1
        (2, "BRAND#1", "abcdefgh"),    # len 8, band 2 — dist 1, adjacent band
        (3, "BRAND#1", "abcdefghij"),  # len 10, band 2 — dist 3 from key 2's name? 'abcdefgh' vs 'abcdefghij' = 2
        (4, "BRAND#1", "zzzzzzzzzzzzzzzz"),  # far away
        (5, "BRAND#2", "abcdefg"),     # other brand — never pairs with 1
    ]
    import tempfile, os
    import pandas as pd

    with tempfile.TemporaryDirectory() as tmp:
        pdf = pd.DataFrame(rows, columns=["p_partkey", "p_brand", "p_name"])
        con = duckdb.connect()
        con.register("p", pdf)
        con.execute(
            f"COPY (SELECT p_partkey, p_brand, p_name FROM p) TO "
            f"'{tmp}/part.parquet' (FORMAT PARQUET)"
        )
        got = {
            r.brand: (r.n_pairs, r.min_dist)
            for r in QUERIES["fuzzy_part_name_pairs"].fn(spark, tmp).collect()
        }
        oracle = con.execute(
            """
            SELECT a.p_brand, count(*), min(levenshtein(a.p_name, b.p_name))
            FROM p a JOIN p b
              ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 3
            GROUP BY a.p_brand
            """
        ).fetchall()
        want = {r[0]: (r[1], r[2]) for r in oracle}
    assert got == want


# ---------------------------------------------------------------------
# incremental aggregate maintenance (IVM)
# ---------------------------------------------------------------------

def _ivm_frames(spark):
    from local_data_pipeline_spark.functions.numeric import dsum_dec

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0), (4, "c", 7.0)],
        "key long, grp string, val double",
    )
    old_agg = base.groupBy("grp").agg(
        F.count("*").alias("n_rows"), dsum_dec("val").alias("total")
    )
    return base, old_agg


def test_maintain_agg_group_move_retracts_and_inserts(spark):
    """A group-moving update must subtract from the old group AND add to
    the new one; a plain 'update in place' implementation double-counts."""
    from local_data_pipeline_spark.operators.cdc import maintain_agg

    _, old_agg = _ivm_frames(spark)
    changes = spark.createDataFrame(
        [("U", "a", 10.0, "b", 10.0)],  # key 1 moves a -> b, same value
        "op string, before_group string, before_value double, "
        "after_group string, after_value double",
    )
    got = {
        r.grp: (r.n_rows, float(r.total))
        for r in maintain_agg(old_agg, changes, "grp").collect()
    }
    assert got == {"a": (1, 20.0), "b": (2, 15.0), "c": (1, 7.0)}


def test_maintain_agg_drops_zeroed_groups_and_creates_new(spark):
    from local_data_pipeline_spark.operators.cdc import maintain_agg

    _, old_agg = _ivm_frames(spark)
    changes = spark.createDataFrame(
        [
            ("D", "c", 7.0, None, None),       # group c empties -> drops
            ("U", None, None, "z", 100.0),     # brand-new group appears
        ],
        "op string, before_group string, before_value double, "
        "after_group string, after_value double",
    )
    got = {
        r.grp: (r.n_rows, float(r.total))
        for r in maintain_agg(old_agg, changes, "grp").collect()
    }
    assert "c" not in got
    assert got["z"] == (1, 100.0)
    assert got["a"] == (2, 30.0) and got["b"] == (1, 5.0)


def test_maintain_agg_incremental_equals_full_recompute(spark):
    """The reconciliation property the query's oracle hash rides on:
    old + delta == full recompute EXACTLY (decimal path end-to-end)."""
    from local_data_pipeline_spark.functions.numeric import dsum_dec
    from local_data_pipeline_spark.operators.cdc import maintain_agg

    base, old_agg = _ivm_frames(spark)
    changes = spark.createDataFrame(
        [
            ("U", "a", 10.0, "a", 10.37),
            ("U", "a", 20.0, "b", 20.0),
            ("D", "b", 5.0, None, None),
            ("U", None, None, "d", 0.01),
        ],
        "op string, before_group string, before_value double, "
        "after_group string, after_value double",
    )
    inc = {
        r.grp: (r.n_rows, str(r.total))
        for r in maintain_agg(old_agg, changes, "grp").collect()
    }
    post = spark.createDataFrame(
        [("a", 10.37), ("b", 20.0), ("c", 7.0), ("d", 0.01)],
        "grp string, val double",
    )
    full = {
        r.grp: (r.n_rows, str(r.total))
        for r in post.groupBy("grp")
        .agg(F.count("*").alias("n_rows"), dsum_dec("val").alias("total"))
        .collect()
    }
    # compare decimal STRING representations: bit-exact reconciliation
    # (a float() round-trip would mask sub-ulp decimal divergence)
    assert inc == full


# ---------------------------------------------------------------------
# rendezvous hashing
# ---------------------------------------------------------------------

def test_rendezvous_movers_only_land_on_new_shard(spark):
    """HRW's minimal-movement guarantee: adding shard 8 moves a doc iff
    shard 8 wins its 9-way argmax — no doc may move between OLD shards.
    Also the moved fraction should be near 1/9."""
    d = spark.range(0, 3000).select(F.col("id").alias("doc_id"))
    doc = F.col("doc_id").cast("string")

    def hrw(n):
        arr = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda s: F.struct(
                F.md5(F.concat(doc, F.lit("#"), s.cast("string"))).alias("h"),
                s.alias("s"),
            ),
        )
        return F.array_max(arr).getField("s")

    pick = d.select(hrw(8).alias("s8"), hrw(9).alias("s9")).collect()
    moved = [(r.s8, r.s9) for r in pick if r.s8 != r.s9]
    assert all(s9 == 8 for _, s9 in moved)
    frac = len(moved) / len(pick)
    assert 0.06 < frac < 0.17  # expected 1/9 ≈ 0.111


def test_rendezvous_query_conserves_documents(spark):
    from local_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["rendezvous_shard_rebalance_documents"].fn(spark, SF).collect()
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n_docs for r in rows) == n_docs
    assert {r.shard for r in rows} <= set(range(8))
    assert all(0 <= r.n_moved <= r.n_docs for r in rows)


# ---------------------------------------------------------------------
# MMR diversified selection
# ---------------------------------------------------------------------

def test_mmr_select_exact_greedy_sequence(spark):
    """Hand-computable 3-candidate pool: rank 1 is pure-relevance argmax;
    later ranks apply the integer MMR formula exactly. At these numbers
    the redundant doc 2 still wins rank 2 (3_260_000 > 3_200_000) — the
    flip case is the next test."""
    from local_data_pipeline_spark.operators.similarity import mmr_select

    cand = spark.createDataFrame(
        [(0, 1, 900000), (0, 2, 890000), (0, 4, 500000)],
        "query_id bigint, doc_id bigint, rel_u bigint",
    )
    sims = {(1, 2): 990000, (1, 4): 100000, (2, 4): 110000}
    rows = []
    for (x, y), s in sims.items():
        rows += [(0, x, y, s), (0, y, x, s)]
    pairs = spark.createDataFrame(
        rows, "query_id bigint, x bigint, y bigint, s_u bigint"
    )
    got = sorted(
        (r.rnk, r.doc_id, r.mmr_e7)
        for r in mmr_select(cand, pairs, k=3).collect()
    )
    assert got == [
        (1, 1, 6300000),
        (2, 2, 7 * 890000 - 3 * 990000),
        (3, 4, 7 * 500000 - 3 * 110000),
    ]


def test_mmr_select_flips_to_diverse_pick(spark):
    from local_data_pipeline_spark.operators.similarity import mmr_select

    cand = spark.createDataFrame(
        [(0, 1, 900000), (0, 2, 899000), (0, 4, 800000)],
        "query_id bigint, doc_id bigint, rel_u bigint",
    )
    sims = {(1, 2): 999000, (1, 4): 100000, (2, 4): 110000}
    rows = []
    for (x, y), s in sims.items():
        rows += [(0, x, y, s), (0, y, x, s)]
    pairs = spark.createDataFrame(
        rows, "query_id bigint, x bigint, y bigint, s_u bigint"
    )
    got = {r.rnk: (r.doc_id, r.mmr_e7) for r in mmr_select(cand, pairs, k=3).collect()}
    # doc 2: 7*899000 - 3*999000 = 3_296_000
    # doc 4: 7*800000 - 3*100000 = 5_300_000 -> diverse pick wins rank 2
    assert got[1] == (1, 6300000)
    assert got[2] == (4, 5300000)
    assert got[3] == (2, 7 * 899000 - 3 * 999000)


def test_mmr_select_incomplete_pair_matrix_raises_descriptively(spark):
    """Contract enforcement: supplying only the x<y half of the
    similarity matrix must fail with the descriptive ValueError, not an
    opaque executor-side KeyError."""
    import pytest

    from local_data_pipeline_spark.operators.similarity import mmr_select

    cand = spark.createDataFrame(
        [(0, 1, 900000), (0, 2, 890000), (0, 4, 500000)],
        "query_id bigint, doc_id bigint, rel_u bigint",
    )
    # x < y half only — missing every (y, x) ordered pair
    pairs = spark.createDataFrame(
        [(0, 1, 2, 990000), (0, 1, 4, 100000), (0, 2, 4, 110000)],
        "query_id bigint, x bigint, y bigint, s_u bigint",
    )
    with pytest.raises(Exception, match="missing ordered pair"):
        mmr_select(cand, pairs, k=3).collect()


def test_mmr_select_partition_count_insensitive(spark):
    """Same picks at any parallelism — integer-only kernel, cogrouped."""
    from local_data_pipeline_spark.queries import QUERIES

    def run(parts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            return sorted(
                tuple(r)
                for r in QUERIES["mmr_diversified_topk_embeddings"]
                .fn(spark, SF)
                .collect()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert run(2) == run(32)


# ---------------------------------------------------------------------
# k-core peel
# ---------------------------------------------------------------------

def _sym_edges(spark, pairs):
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def test_kcore_triangle_survives_pendant_peels(spark):
    """Triangle with a pendant tail: the 2-core is exactly the triangle
    (every member degree 2); the tail cascades away over TWO rounds
    (4 drops only after 5 is gone) — pinning the iterative cascade."""
    from local_data_pipeline_spark.operators.graph import kcore

    e = _sym_edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    got = {r.node: r.degree for r in kcore(e, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_converges_within_round_budget_on_query_graph(spark):
    """Monotone peel: if rounds R and R+1 agree, R hit the fixpoint and
    the fixed-round result IS the true k-core. Pinned on the actual
    query graph at sf0.001 and on a worst-case path graph."""
    from local_data_pipeline_spark.operators.graph import kcore
    from local_data_pipeline_spark.queries import QUERIES

    r6 = sorted(
        tuple(r) for r in QUERIES["kcore_copurchase_parts"].fn(spark, SF).collect()
    )
    # rerun with one extra round via the operator on the same edges
    from local_data_pipeline_spark.queries import _copurchase_edges, _t

    pairs = _copurchase_edges(_t(spark, SF, "lineitem"))
    edges = pairs.selectExpr("pa as src", "pb as dst").unionAll(
        pairs.selectExpr("pb as src", "pa as dst")
    )
    r7 = sorted(
        (r.node, r.degree)
        for r in __import__(
            "local_data_pipeline_spark.operators.graph", fromlist=["kcore"]
        ).kcore(edges, k=3, rounds=7).collect()
    )
    assert r6 == r7

    # path graph P8, k=2: peels strictly one layer per round from each
    # end -> empties in ceil((8-?)/2) rounds; rounds=4 suffices
    path = _sym_edges(spark, [(i, i + 1) for i in range(1, 8)])
    assert kcore(path, k=2, rounds=4).count() == 0


# ---------------------------------------------------------------------
# hybrid RRF: fused single rank pass
# ---------------------------------------------------------------------

def test_hybrid_rrf_builds_exactly_one_rank_job(spark):
    """Round-5 drift regression root cause: TWO distributed_rank passes
    (one per retrieval leg), each paying its own range exchange +
    shard-offsets pass. The fused form must construct exactly ONE —
    pinned by spying the shared cumsum primitive's call count
    (distributed_cumsum since round 11's in-plan offsets; the _with_total
    variant is now ntile-only)."""
    from local_data_pipeline_spark.queries import QUERIES

    import local_data_pipeline_spark.operators.packing as PK

    calls = {"n": 0}
    orig = PK.distributed_cumsum

    def spy(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    PK.distributed_cumsum = spy
    try:
        QUERIES["hybrid_rrf_search_documents"].fn(spark, SF)
    finally:
        PK.distributed_cumsum = orig
    assert calls["n"] == 1


# ---------------------------------------------------------------------
# CUPED variance reduction
# ---------------------------------------------------------------------

def test_cuped_reduces_variance_on_correlated_planted_users(spark, tmp_path):
    """Planted events where each user's experiment-period spend tracks
    their pre-period spend (y ≈ x): CUPED must cut the measured
    variance ratio far below 1 while leaving the arm means close to the
    raw means (same expectation), and theta-adjustment must be exactly
    mean-preserving in the pooled sense."""
    import duckdb
    import pandas as pd

    from local_data_pipeline_spark.queries import QUERIES

    rows = []
    eid = 0
    for u in range(1, 61):
        base = 100.0 + 7.0 * u  # user-level spend scale
        for d, period_ts in (
            (0, "2024-01-05 00:00:00"),  # pre-period
            (1, "2024-01-20 00:00:00"),  # experiment period
        ):
            eid += 1
            # post spend = pre spend + small user-independent wiggle
            val = base + (3.0 if d else 0.0) + (u % 5)
            rows.append((eid, period_ts, u, "purchase", val, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    con = duckdb.connect()
    con.register("e", pdf)
    con.execute(
        f"COPY (SELECT * FROM e) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"
    )
    got = {
        r.arm: r
        for r in QUERIES["cuped_ab_readout_events"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {0, 1}
    for arm, r in got.items():
        # near-perfect pre/post correlation -> variance collapses
        assert r.var_ratio is not None and r.var_ratio < 0.05, (arm, r)
        # CUPED mean stays in the raw means' ballpark (same estimand)
        assert abs(r.mean_y_cuped - r.mean_y) < 50.0


# ---------------------------------------------------------------------
# multi-batch CDC / IVM chains
# ---------------------------------------------------------------------

def test_maintain_agg_chain_equals_one_shot_and_full_recompute(spark):
    """Operational soundness of incremental maintenance across BATCHES:
    applying changelog B1 then B2 to the rollup must equal (a) applying
    the combined batch once and (b) a full recompute of the final state
    — the associativity that lets a 100 TB rollup be maintained at any
    cadence. Exact-decimal sums make the equality bitwise."""
    from local_data_pipeline_spark.functions.numeric import dsum_dec
    from local_data_pipeline_spark.operators.cdc import maintain_agg

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0), (4, "c", 7.25)],
        "key long, grp string, val double",
    )
    agg0 = base.groupBy("grp").agg(
        F.count("*").alias("n_rows"), dsum_dec("val").alias("total")
    )
    sch = (
        "op string, before_group string, before_value double, "
        "after_group string, after_value double"
    )
    b1 = spark.createDataFrame(
        [("U", "a", 10.0, "b", 11.5), ("D", "c", 7.25, None, None)], sch
    )  # key1 moves a->b with new value; key4 deleted
    b2 = spark.createDataFrame(
        [("U", "b", 11.5, "b", 12.0), ("U", None, None, "d", 1.0)], sch
    )  # key1 updated in place; key5 inserted

    def snap(df):
        return {
            r.grp: (r.n_rows, float(r.total)) for r in df.collect()
        }

    seq = snap(maintain_agg(maintain_agg(agg0, b1, "grp"), b2, "grp"))

    # combined batch: per-key net change (key1: before from B1's before,
    # after from B2's after — compaction semantics)
    combined = spark.createDataFrame(
        [
            ("U", "a", 10.0, "b", 12.0),
            ("D", "c", 7.25, None, None),
            ("U", None, None, "d", 1.0),
        ],
        sch,
    )
    one_shot = snap(maintain_agg(agg0, combined, "grp"))

    final_state = spark.createDataFrame(
        [(1, "b", 12.0), (2, "a", 20.0), (3, "b", 5.0), (5, "d", 1.0)],
        "key long, grp string, val double",
    )
    full = snap(
        final_state.groupBy("grp").agg(
            F.count("*").alias("n_rows"), dsum_dec("val").alias("total")
        )
    )
    assert seq == one_shot == full


def test_compact_envelope_first_before_last_after(spark):
    """A key changed TWICE in one batch must compact to (first before
    image, last after image) for IVM to retract correctly —
    compact_envelope does this; compact_changelog (all-max_by) would
    keep the LAST before image and corrupt the maintained rollup."""
    from local_data_pipeline_spark.functions.numeric import dsum_dec
    from local_data_pipeline_spark.operators.cdc import (
        compact_changelog,
        compact_envelope,
        maintain_agg,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)],
        "key long, grp string, val double",
    )
    agg0 = base.groupBy("grp").agg(
        F.count("*").alias("n_rows"), dsum_dec("val").alias("total")
    )
    sch = (
        "key long, seq long, op string, before_group string, "
        "before_value double, after_group string, after_value double"
    )
    # key 1 changes twice in this batch: a/10.0 -> b/11.5 -> c/12.0;
    # key 4 inserted then updated: NULL -> d/1.0 -> d/2.0
    raw = spark.createDataFrame(
        [
            (1, 100, "U", "a", 10.0, "b", 11.5),
            (1, 101, "U", "b", 11.5, "c", 12.0),
            (4, 200, "U", None, None, "d", 1.0),
            (4, 201, "U", "d", 1.0, "d", 2.0),
        ],
        sch,
    )
    compacted = compact_envelope(raw, "key", "seq")
    rows = {r.key: r for r in compacted.collect()}
    assert (rows[1].before_group, rows[1].before_value) == ("a", 10.0)
    assert (rows[1].after_group, rows[1].after_value) == ("c", 12.0)
    assert rows[4].before_group is None  # first change was the insert
    assert (rows[4].after_group, rows[4].after_value) == ("d", 2.0)

    inc = {
        r.grp: (r.n_rows, str(r.total))
        for r in maintain_agg(agg0, compacted, "grp").collect()
    }
    final_state = spark.createDataFrame(
        [(1, "c", 12.0), (2, "a", 20.0), (3, "b", 5.0), (4, "d", 2.0)],
        "key long, grp string, val double",
    )
    full = {
        r.grp: (r.n_rows, str(r.total))
        for r in final_state.groupBy("grp")
        .agg(F.count("*").alias("n_rows"), dsum_dec("val").alias("total"))
        .collect()
    }
    assert inc == full

    # the WRONG compaction (latest before image) must visibly corrupt:
    # it retracts 11.5 from group b instead of 10.0 from group a.
    wrong = compact_changelog(
        raw.withColumnRenamed("key", "k"), "k", "seq"
    ).withColumnRenamed("k", "key")
    bad = {
        r.grp: (r.n_rows, str(r.total))
        for r in maintain_agg(agg0, wrong, "grp").collect()
    }
    assert bad != full


def test_compact_envelope_insert_then_delete_cancels(spark):
    """Insert + delete of the same key within one batch nets to zero
    contribution: compacted row has NULL before (first image) and op D
    with NULL after — maintain_agg must leave the rollup unchanged."""
    from local_data_pipeline_spark.functions.numeric import dsum_dec
    from local_data_pipeline_spark.operators.cdc import (
        compact_envelope,
        maintain_agg,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0)], "key long, grp string, val double"
    )
    agg0 = base.groupBy("grp").agg(
        F.count("*").alias("n_rows"), dsum_dec("val").alias("total")
    )
    raw = spark.createDataFrame(
        [
            (9, 1, "U", None, None, "a", 99.0),
            (9, 2, "D", "a", 99.0, None, None),
        ],
        "key long, seq long, op string, before_group string, "
        "before_value double, after_group string, after_value double",
    )
    out = maintain_agg(
        agg0, compact_envelope(raw, "key", "seq"), "grp"
    ).collect()
    assert {r.grp: (r.n_rows, str(r.total)) for r in out} == {
        r.grp: (r.n_rows, str(r.total)) for r in agg0.collect()
    }


def test_apply_changes_sequential_equals_compacted(spark):
    """Applying two changelog batches in sequence == compacting their
    union (latest seq wins) and applying once."""
    from local_data_pipeline_spark.operators.cdc import (
        apply_changes,
        compact_changelog,
    )

    target = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    sch = "k long, v double, op string, seq long"
    b1 = spark.createDataFrame(
        [(1, 11.0, "U", 1), (2, None, "D", 2), (4, 40.0, "U", 3)], sch
    )
    b2 = spark.createDataFrame(
        [(1, 12.0, "U", 4), (4, None, "D", 5), (5, 50.0, "U", 6)], sch
    )

    def snap(df):
        return sorted((r.k, r.v) for r in df.collect())

    seq = snap(
        apply_changes(
            apply_changes(target, compact_changelog(b1, "k", "seq"), "k"),
            compact_changelog(b2, "k", "seq"),
            "k",
        )
    )
    both = snap(
        apply_changes(
            target, compact_changelog(b1.unionByName(b2), "k", "seq"), "k"
        )
    )
    assert seq == both == [(1, 12.0), (3, 30.0), (5, 50.0)]


# ---------------------------------------------------------------------
# hot-postings salting (skew guard)
# ---------------------------------------------------------------------

def test_salt_hot_postings_exact_redistribution(spark):
    """Salting is pure redistribution: joining the salted frames on
    (token, salt) yields EXACTLY the pairs of the unsalted token join —
    for hot tokens (corpus split + anchor replication), cold tokens
    (salt 0 both sides), and anchors absent from the hot set."""
    from local_data_pipeline_spark.operators.similarity import (
        salt_hot_postings,
    )

    anchors = spark.createDataFrame(
        [(1, "the", 3), (1, "rare", 1), (2, "the", 2), (2, "mid", 5)],
        "a_id bigint, token string, a_tf bigint",
    )
    corpus = spark.createDataFrame(
        [(i, "the", i % 3 + 1) for i in range(40)]
        + [(7, "rare", 2), (11, "mid", 4), (12, "mid", 1)],
        "b_id bigint, token string, tf bigint",
    )
    hot = spark.createDataFrame([("the",)], "token string")

    plain = sorted(
        (r.a_id, r.b_id, r.a_tf * r.tf)
        for r in anchors.join(corpus, "token").collect()
    )
    a_s, c_s, keys = salt_hot_postings(anchors, corpus, hot, n_salts=4)
    salted = sorted(
        (r.a_id, r.b_id, r.a_tf * r.tf)
        for r in a_s.join(c_s, keys).collect()
    )
    assert salted == plain  # no pair dropped, none duplicated

    # hot-token corpus rows spread across >1 salt bucket
    buckets = {
        r["__salt"] for r in c_s.filter("token = 'the'").select("__salt").collect()
    }
    assert len(buckets) > 1
    # cold tokens pay no replication: one salted anchor row each
    assert a_s.filter("token = 'rare'").count() == 1
    assert a_s.filter("token = 'the'").count() == 2 * 4  # 2 anchors x 4 salts


def test_salt_hot_postings_null_part_col_not_dropped(spark):
    """A hot-token corpus row with a NULL partitioning value must still
    land in a bucket (0), not vanish through pmod(NULL)=NULL + inner
    join — the exactness contract covers NULL ids too."""
    from local_data_pipeline_spark.operators.similarity import (
        salt_hot_postings,
    )

    anchors = spark.createDataFrame(
        [(1, "the", 2)], "a_id bigint, token string, a_tf bigint"
    )
    corpus = spark.createDataFrame(
        [(None, "the", 3), (5, "the", 1)],
        "b_id bigint, token string, tf bigint",
    )
    hot = spark.createDataFrame([("the",)], "token string")
    key = lambda t: (t[0], -1 if t[1] is None else t[1])  # noqa: E731
    a_s, c_s, keys = salt_hot_postings(anchors, corpus, hot, n_salts=4)
    got = sorted(
        ((r.a_id, r.b_id) for r in a_s.join(c_s, keys).collect()), key=key
    )
    plain = sorted(
        ((r.a_id, r.b_id) for r in anchors.join(corpus, "token").collect()),
        key=key,
    )
    assert got == plain == [(1, None), (1, 5)]


def test_salt_hot_postings_empty_hot_set_is_identity(spark):
    from local_data_pipeline_spark.operators.similarity import (
        salt_hot_postings,
    )

    anchors = spark.createDataFrame(
        [(1, "x", 1)], "a_id bigint, token string, a_tf bigint"
    )
    corpus = spark.createDataFrame(
        [(2, "x", 3)], "b_id bigint, token string, tf bigint"
    )
    hot = spark.createDataFrame([], "token string")
    a_s, c_s, keys = salt_hot_postings(anchors, corpus, hot, n_salts=8)
    rows = a_s.join(c_s, keys).collect()
    assert [(r.a_id, r.b_id) for r in rows] == [(1, 2)]
    assert a_s.count() == 1  # nothing replicated


# ---------------------------------------------------------------------
# join-view incremental maintenance
# ---------------------------------------------------------------------

def test_maintain_join_upsert_delete_and_new_key(spark):
    """Dim update rewrites its fact rows, delete cascades them out, and
    a BRAND-NEW dim key picks up pre-existing (orphan) fact rows —
    inner-join view semantics, maintained == full recompute."""
    from local_data_pipeline_spark.operators.cdc import maintain_join

    fact = spark.createDataFrame(
        [(1, 100, 10.0), (1, 101, 20.0), (2, 102, 5.0), (9, 103, 7.0)],
        "k long, fid long, v double",
    )
    dim0 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, seg string"
    )  # key 9 is an orphan in the pre-state view
    view0 = fact.join(dim0, "k")
    changes = spark.createDataFrame(
        [(1, "a2", "U"), (2, None, "D"), (9, "c", "U")],
        "k long, seg string, op string",
    )
    got = sorted(
        (r.k, r.fid, r.v, r.seg)
        for r in maintain_join(view0, fact, changes, "k").collect()
    )
    dim_post = spark.createDataFrame(
        [(1, "a2"), (9, "c")], "k long, seg string"
    )
    full = sorted(
        (r.k, r.fid, r.v, r.seg) for r in fact.join(dim_post, "k").collect()
    )
    assert got == full
    assert {t[3] for t in got} == {"a2", "c"}  # b cascaded out


def test_maintain_join_chain_equals_one_shot(spark):
    """Two dim batches applied in sequence == compact_changelog of the
    union applied once (latest payload wins — the right compaction for
    a join view, unlike maintain_agg's envelope)."""
    from local_data_pipeline_spark.operators.cdc import (
        compact_changelog,
        maintain_join,
    )

    fact = spark.createDataFrame(
        [(1, 100, 10.0), (2, 102, 5.0)], "k long, fid long, v double"
    )
    dim0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, seg string")
    view0 = fact.join(dim0, "k")
    sch = "k long, seg string, op string, seq long"
    b1 = spark.createDataFrame([(1, "x", "U", 1), (2, None, "D", 2)], sch)
    b2 = spark.createDataFrame([(1, "y", "U", 3), (2, "back", "U", 4)], sch)

    def snap(df):
        return sorted((r.k, r.fid, r.seg) for r in df.collect())

    seq = snap(
        maintain_join(
            maintain_join(view0, fact, b1.drop("seq"), "k"),
            fact,
            b2.drop("seq"),
            "k",
        )
    )
    one = snap(
        maintain_join(
            view0,
            fact,
            compact_changelog(b1.unionByName(b2), "k", "seq").drop("seq"),
            "k",
        )
    )
    assert seq == one == [(1, 100, "y"), (2, 102, "back")]


def test_maintain_join_rejects_unknown_changelog_columns(spark):
    import pytest

    from local_data_pipeline_spark.operators.cdc import maintain_join

    fact = spark.createDataFrame([(1, 1.0)], "k long, v double")
    dim = spark.createDataFrame([(1, "a")], "k long, seg string")
    view0 = fact.join(dim, "k")
    changes = spark.createDataFrame(
        [(1, "a", "extra", "U")], "k long, seg string, bogus string, op string"
    )
    with pytest.raises(ValueError, match="absent from the view"):
        maintain_join(view0, fact, changes, "k")


def test_maintain_join_broadcasts_the_changelog(spark):
    """Scale pin: BOTH maintenance joins put the changelog on the
    broadcast side — the view anti-join and the fact re-derive join."""
    from local_data_pipeline_spark.operators.cdc import maintain_join
    from local_data_pipeline_spark.plans.inspect import physical_plan

    fact = spark.range(0, 1000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("fid")
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit("s").alias("seg")
    )
    view0 = fact.join(dim, "k")
    changes = spark.createDataFrame(
        [(1, "t", "U"), (2, None, "D")], "k long, seg string, op string"
    )
    out = maintain_join(view0, fact, changes, "k")
    plan = physical_plan(out)
    assert plan.count("BroadcastExchange") >= 2
    # the anti-join itself must be the broadcast variant: assert the
    # combination on one plan line (a bare 'LeftAnti' substring would
    # also match a degraded SortMergeJoin LeftAnti)
    assert any(
        "BroadcastHashJoin" in line and "LeftAnti" in line
        for line in plan.splitlines()
    ), plan
    assert "SortMergeJoin" not in plan


def test_maintain_join_invalid_op_raises_in_plan(spark):
    """An op outside {U, D} must raise at execution, not act as a
    silent delete (its key would be retracted but never re-derived)."""
    import pytest

    from local_data_pipeline_spark.operators.cdc import maintain_join

    fact = spark.createDataFrame([(1, 1.0)], "k long, v double")
    dim = spark.createDataFrame([(1, "a")], "k long, seg string")
    view0 = fact.join(dim, "k")
    changes = spark.createDataFrame(
        [(1, "a2", "c")], "k long, seg string, op string"
    )
    with pytest.raises(Exception, match="invalid dim changelog op"):
        maintain_join(view0, fact, changes, "k").collect()
