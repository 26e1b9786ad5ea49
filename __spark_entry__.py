"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Queries live in the package modules (one oracle-checked entry per operator
row of SURVEY.md §2); this file just aggregates their registries, in
module order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from guidance_for_sap_data_integration_and_management_on_aws_spark.registry import QuerySpec


def _registry() -> dict[str, QuerySpec]:
    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators import (
        dedup,
        graph,
        ingest,
        joins,
        multimodal,
        relational,
        similarity,
        text,
        tpch,
        udfs,
        windows,
    )
    from guidance_for_sap_data_integration_and_management_on_aws_spark.streaming import ops as streaming_ops

    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        tpch,
        joins,
        windows,
        ingest,
        text,
        dedup,
        similarity,
        graph,
        multimodal,
        udfs,
        streaming_ops,
    ):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        merged.update(mod.QUERIES)
    return merged


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.relational import (
        q1_pricing_summary,
    )

    return q1_pricing_summary.builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.builder for name, q in _registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    return {name: q.oracle for name, q in _registry().items() if q.oracle is not None}
