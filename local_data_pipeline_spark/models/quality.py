"""Data-quality model set over the synthetic warehouse (SURVEY §2.D7 at
scale): the reference's dbt `not_null` idiom extended with `unique`,
`accepted_values`, and `relationships` (FK) checks, run through the same
registry `build()` so failures fail the build like `dbt build`.

A full-table data test at 100 TB is itself a big query, so the shapes
matter: a table's not_null/unique/accepted_values checks fold into one
aggregate over one scan, FK checks are LEFT ANTI broadcast joins.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from ..registry import (DataTest, Registry, accepted_values, not_null,
                        relationships, unique)
from ..session import load_table


def build_quality_registry(sf_dir: str) -> Registry:
    """Registers each warehouse table as a checked model."""
    reg = Registry()

    def table_model(name: str, tests: list[DataTest]) -> None:
        @reg.model(f"chk_{name}", tests=tuple(tests), group="quality")
        def _m(r: Registry, spark: SparkSession, _n=name) -> DataFrame:
            return load_table(spark, sf_dir, _n)

    # FK tests load the parent table lazily from the session that runs the
    # check, so the registry composes under any SparkSession
    def fk(column: str, parent_name: str, parent_key: str) -> DataTest:
        test = relationships(
            column,
            lambda: load_table(SparkSession.active(), sf_dir, parent_name),
            parent_key,
        )
        return replace(test, name=f"relationships({column}->{parent_name}.{parent_key})")

    table_model("region", [not_null("r_regionkey"), unique("r_regionkey")])
    table_model(
        "nation",
        [not_null("n_nationkey"), unique("n_nationkey"), fk("n_regionkey", "region", "r_regionkey")],
    )
    table_model(
        "customer",
        [not_null("c_custkey"), unique("c_custkey"), fk("c_nationkey", "nation", "n_nationkey"),
         accepted_values("c_mktsegment",
                         ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])],
    )
    table_model(
        "orders",
        [not_null("o_orderkey"), unique("o_orderkey"), fk("o_custkey", "customer", "c_custkey"),
         accepted_values("o_orderstatus", ["F", "O", "P"])],
    )
    # note: no unique(l_orderkey, l_linenumber) — the driver-generated
    # synthetic lineitem contains duplicate line numbers per order
    table_model(
        "lineitem",
        [not_null("l_orderkey"), fk("l_orderkey", "orders", "o_orderkey")],
    )
    table_model("events", [not_null("event_id"), unique("event_id"), not_null("ts")])
    table_model("documents", [not_null("doc_id"), unique("doc_id"), not_null("text")])
    table_model("embeddings", [not_null("vec_id"), unique("vec_id")])
    return reg
