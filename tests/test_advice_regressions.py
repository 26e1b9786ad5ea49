"""Regression tests for the round-1 advisor findings (ADVICE.md):

1. null-accepting pushed predicates (IS NULL, <=> NULL, NOT IS NOT NULL)
   must keep the all-NULL corrupt rows the saprfc source emits;
2. an unknown future Filter type must be declined by pushFilters (whitelist),
   never accepted-and-crash-later;
3. parse_rfc_frame must treat a regex-metacharacter delimiter literally;
4. EXCEPT semantics: left-side duplicates beyond right multiplicity are
   still removed (subtract, not exceptAll+distinct).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.relational import except_custkeys
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import (
    MockRfcTransport,
    RfcField,
    parse_rfc_frame,
)
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
    SapRfcReader,
    _filter_handled,
    register,
)


def _df(spark):
    register(spark)
    return spark.read.format("saprfc").option("table", "DD03L").load()


def test_null_accepting_pushdown_keeps_corrupt_rows(spark):
    df = _df(spark)
    rows = df.collect()  # materialized scan = ground truth (no pushdown)
    want_null = sum(1 for r in rows if r["ASDATE"] is None)
    want_corrupt_null = sum(
        1 for r in rows if r["ASDATE"] is None and r["_corrupt_record"] is not None
    )
    assert want_corrupt_null > 0  # fixture plants corrupt rows
    assert df.filter(F.col("ASDATE").isNull()).count() == want_null
    got = df.filter(
        F.col("ASDATE").isNull() & F.col("_corrupt_record").isNotNull()
    ).count()
    assert got == want_corrupt_null


def test_value_pushdown_matches_materialized_scan(spark):
    df = _df(spark)
    rows = df.collect()
    want = sum(1 for r in rows if r["TABNAME"] == "TAB3")
    assert df.filter(F.col("TABNAME") == "TAB3").count() == want


def test_unknown_filter_type_declined():
    class FutureFilter:  # a Filter subclass Spark might add later
        attribute = ("ASDATE",)

    reader = SapRfcReader({"table": "DD03L"}, list(MockRfcTransport.FIELDS))
    yielded = list(reader.pushFilters([FutureFilter()]))
    assert len(yielded) == 1 and reader.accepted == []
    assert not _filter_handled(FutureFilter())


@pytest.mark.parametrize("delim", ["|", "."])
def test_regex_metachar_delimiter_splits_literally(spark, delim):
    raw = spark.createDataFrame([(f"a{delim}b{delim}c",)], "wa STRING")
    fields = [RfcField("X", "C"), RfcField("Y", "C"), RfcField("Z", "C")]
    p = parse_rfc_frame(raw, fields, delimiter=delim)
    assert p.errors.count() == 0
    assert p.valid.collect()[0].asDict() == {"X": "a", "Y": "b", "Z": "c"}


def test_except_removes_excess_left_duplicates(spark, tmp_path):
    # customer key 1 twice, key 2 once; orders references 1 once.
    # SQL EXCEPT -> {2}; the old exceptAll().distinct() would keep {1, 2}.
    pq.write_table(pa.table({"c_custkey": [1, 1, 2]}), tmp_path / "customer.parquet")
    pq.write_table(pa.table({"o_custkey": [1]}), tmp_path / "orders.parquet")
    got = {r["k"] for r in except_custkeys.builder(spark, str(tmp_path)).collect()}
    assert got == {2}


# ---------------------------------------------------------------------------
# Round-2 advisor findings (ADVICE.md r02):
# 5. zero-row part files must not clobber earlier reference-named objects;
# 6. merge-upsert insert keys derive from the actual max key (no collision
#    at any SF) — covered by test_oracle_parity on the updated oracle;
# 7. stateful kernels round cents HALF_UP (away from zero), matching both
#    Spark F.round and DuckDB round(), not pandas' half-to-even.
# ---------------------------------------------------------------------------


def test_reference_naming_skips_zero_row_parts(tmp_path):
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.lake import (
        _apply_reference_naming,
    )

    (tmp_path / "part-00000").write_bytes(b'{"a":1}\n{"a":2}\n')
    (tmp_path / "part-00001").write_bytes(b"")  # empty partition -> 0-row part
    (tmp_path / "part-00002").write_bytes(b'{"a":3}\n')
    named = _apply_reference_naming(str(tmp_path), "T", "json")
    assert named == ["T2.json", "T3.json"]
    # append run whose FIRST part is empty: previously its name equalled the
    # prior run's largest object and os.replace clobbered it
    (tmp_path / "part-00000").write_bytes(b"")
    (tmp_path / "part-00001").write_bytes(b'{"a":4}\n')
    named2 = _apply_reference_naming(str(tmp_path), "T", "json")
    assert named2 == ["T4.json"]
    assert sorted(f.name for f in tmp_path.iterdir()) == ["T2.json", "T3.json", "T4.json"]
    assert (tmp_path / "T3.json").read_bytes() == b'{"a":3}\n'  # survived the append


def test_stateful_cents_round_half_up():
    import pandas as pd

    from guidance_for_sap_data_integration_and_management_on_aws_spark.streaming.ops import (
        _cents_half_up,
    )

    # 0.125 and 0.625 are binary-exact, so value*100 lands EXACTLY on .5:
    # HALF_UP gives 13 and 63; pandas .round() (half-to-even) gives 12 and 62.
    assert _cents_half_up(pd.Series([0.125])) == 13
    assert _cents_half_up(pd.Series([0.625])) == 63
    assert _cents_half_up(pd.Series([-0.125])) == -13  # away from zero
    assert _cents_half_up(pd.Series([0.125, 0.625, 2.0])) == 13 + 63 + 200


# ---------------------------------------------------------------------------
# Round-5 advisor findings (ADVICE.md r05):
# 8. n-gram oracles must be unbounded in document length (the fixed
#    range(0, 256) literal silently undercounted docs > 257 tokens);
# 9. _TOKEN_CACHE evicts FIFO (oldest insertion), and unpersist() on a
#    dead-session frame must not break the query path;
# 10. a long corrupt-line run must still honor the Arrow batch-size bound
#     (the corrupt branch used to `continue` past the flush check).
# ---------------------------------------------------------------------------


def test_ngram_oracles_unbounded_past_256_tokens(spark, tmp_path):
    """A 400-token doc (past the old 256-shingle oracle cap) must still
    hash-match between the Spark builder and the DuckDB oracle for every
    shingle-indexed query (bigram top-k, chunking, decontamination)."""
    import duckdb

    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.text import (
        pipeline_chunk_documents,
        pipeline_decontaminate,
        text_ngram_topk,
    )
    from tests.oracle_harness import compare

    words = " ".join(f"w{i % 50}" for i in range(400))
    pq.write_table(
        pa.table(
            {
                "doc_id": [0, 1, 2],
                "text": [words, "short doc text", words + " tail"],
                "source": ["a", "a", "b"],
            }
        ),
        tmp_path / "documents.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    for q in (text_ngram_topk, pipeline_chunk_documents, pipeline_decontaminate):
        compare(q.builder(spark, str(tmp_path)), con, q.oracle, q.builder.__name__)


def test_token_cache_evicts_oldest_and_survives_dead_frames(spark, sf_dir):
    from guidance_for_sap_data_integration_and_management_on_aws_spark.caches import (
        CACHE_MAX_ENTRIES,
    )
    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators import dedup

    class _Fake:
        def __init__(self, raises: bool):
            self.raises = raises
            self.unpersisted = False

        def unpersist(self):
            if self.raises:
                raise RuntimeError("session already stopped")
            self.unpersisted = True

    saved = dict(dedup._TOKEN_CACHE)
    dedup._TOKEN_CACHE.clear()
    try:
        fakes = [_Fake(raises=(i == 0)) for i in range(CACHE_MAX_ENTRIES)]
        for i, f in enumerate(fakes):
            dedup._TOKEN_CACHE[("app", f"dir{i}")] = f
        got = dedup._hashed_token_sets(spark, sf_dir)
        assert got is not None
        # oldest entry (index 0) evicted FIRST — a non-DataFrame value is
        # not released, so its raising unpersist never ran; the newest
        # fakes survive
        assert ("app", "dir0") not in dedup._TOKEN_CACHE
        assert ("app", f"dir{len(fakes) - 1}") in dedup._TOKEN_CACHE
        assert not fakes[-1].unpersisted
    finally:
        dedup._TOKEN_CACHE.clear()
        dedup._TOKEN_CACHE.update(saved)


def test_eviction_propagates_unexpected_unpersist_errors(spark):
    """The memoizer releases an evicted DataFrame and forgives only the
    Py4JJavaError of a stopped session's frame; any other error of
    ``unpersist`` reaches the caller."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.caches import (
        CACHE_MAX_ENTRIES,
        memoize,
    )

    def boom():
        raise RuntimeError("unpersist failed")

    oldest = spark.range(1)
    oldest.unpersist = boom
    cache = {("app", "dir0"): oldest}
    cache.update({("app", f"dir{i}"): None for i in range(1, CACHE_MAX_ENTRIES)})
    with pytest.raises(RuntimeError, match="unpersist failed"):
        memoize(cache, spark, "new", lambda: None)


def test_corrupt_run_honors_arrow_batch_bound(monkeypatch):
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources import saprfc_dsv2
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import (
        DEFAULT_DELIMITER,
    )

    valid = DEFAULT_DELIMITER.join(
        ["T", "F", "0001", "X", "R", "CHAR", "001", "20200101"]
    )

    class _CorruptRunTransport:
        def row_count(self, table, options=()):
            return 101

        def call(self, table, delimiter, offset, count, options=(), fields=()):
            lines = [{"WA": "one-field-only"} for _ in range(100)]
            lines.append({"WA": valid})
            return {"OUT_TABLE": "DATA", "DATA": lines}

    monkeypatch.setattr(
        saprfc_dsv2, "_transport_from_options", lambda options: _CorruptRunTransport()
    )
    reader = SapRfcReader({"table": "DD03L"}, list(MockRfcTransport.FIELDS))
    reader.ARROW_BATCH_ROWS = 16
    batches = list(reader.read(saprfc_dsv2._PagePartition(0, 200)))
    assert sum(b.num_rows for b in batches) == 101
    assert max(b.num_rows for b in batches) <= 16  # bound held mid-corrupt-run
    corrupt = sum(b.column("_corrupt_record").null_count == 0 for b in batches)
    assert corrupt  # corrupt rows did surface


# ---------------------------------------------------------------------------
# Round-7 advisor findings (ADVICE.md r07):
# 11. the streaming CUSUM kernel must derive cents with the batch twin's
#     double -> DECIMAL(12,2) HALF_UP semantics (Decimal on the shortest
#     string repr), not float sign*floor(|v*100|+0.5) — those diverge on
#     >2-decimal inputs like 49.615 (double 49.61499...);
# 12. xml_scan_roundtrip's scratch dir must be stable within a process
#     (md5-keyed like its lake siblings), not abs(hash(...))-keyed —
#     str hash is salted per process, so every run would leak a fresh tree.
# ---------------------------------------------------------------------------


def test_streaming_cusum_cents_match_decimal_cast():
    from decimal import Decimal

    from guidance_for_sap_data_integration_and_management_on_aws_spark.streaming.ops import (
        _decimal_cents,
    )

    # the ADVICE example: double(49.615) = 49.61499... — float rounding
    # yields 4961, the DECIMAL(12,2) HALF_UP cast (and this kernel) 4962
    assert _decimal_cents(49.615) == 4962
    # binary-exact .5 boundary: HALF_UP, not banker's
    assert _decimal_cents(0.125) == 13
    assert _decimal_cents(-0.125) == -13  # away from zero
    # exact agreement with the literal DECIMAL(12,2) HALF_UP quantize — the
    # ADVICE-prescribed form — on a spread of values
    from decimal import ROUND_HALF_UP

    for v in (0.0, 1.0, 2.675, -2.675, 49.615, 103.99499999, 7.005):
        want = int(
            Decimal(repr(v))
            .quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
            .scaleb(2)
        )
        assert _decimal_cents(v) == want, v


def test_xml_scratch_dir_stable_within_process(spark, sf_dir):
    import os

    from guidance_for_sap_data_integration_and_management_on_aws_spark.streaming.replay import (
        _SCRATCH,
    )
    from tests.test_oracle_parity import REG

    base = os.path.abspath(os.path.join(_SCRATCH, "xml-orders"))
    # compare only THIS pid's entries: the dir is shared across pytest-xdist
    # workers, so a whole-listing equality would flake when another worker
    # creates its own -p<pid> dir between the two runs (ADVICE r8 item 5);
    # the invariant under test is one stable dir per pid
    pid_suffix = f"-p{os.getpid()}"

    def mine() -> set:
        return {d for d in os.listdir(base) if d.endswith(pid_suffix)}

    REG["xml_scan_roundtrip"].builder(spark, sf_dir).collect()
    first = mine()
    REG["xml_scan_roundtrip"].builder(spark, sf_dir).collect()
    second = mine()
    # a second invocation reuses the md5+pid-keyed dir — no new tree leaks
    assert first == second
    assert len(second) == 1, second


def test_decimal_cents_vec_matches_scalar():
    """The vectorized cents kernel must agree with the scalar Decimal path
    everywhere — including .5 ties (half-up pinned above), 3-decimal
    values whose doubles sit just under a boundary, and full-precision
    random doubles (seeded)."""
    import numpy as np

    from guidance_for_sap_data_integration_and_management_on_aws_spark.streaming.ops import (
        _decimal_cents,
        _decimal_cents_vec,
    )

    rng = np.random.default_rng(7)
    vals = np.concatenate([
        rng.uniform(-1000, 1000, 20000),
        np.array([49.615, -49.615, 0.125, -0.125, 0.625, 2.675, -2.675,
                  7.005, 0.0, 1.0, 103.99499999]),
        np.round(rng.uniform(-100, 100, 10000), 3),
        np.round(rng.uniform(-100, 100, 10000), 2),
    ])
    want = np.array([_decimal_cents(x) for x in vals])
    assert (want == _decimal_cents_vec(vals)).all()


def test_bloom_expr_literal_matches_lit_literal(spark):
    """r15 advice (low): bloom_might_contain renders the 4096-word bitmap
    as signed-long SQL text (f"{w}L") parsed in one F.expr; assert the
    parsed literal is element-identical to F.lit(words) and that the probe
    over it returns identical results — including Long.MinValue (only bit
    63 set), -1 (all bits), 0, and random negative words."""
    import random

    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.joins import (
        BLOOM_WORDS,
        _bloom_probe,
        bloom_might_contain,
    )

    rng = random.Random(16)
    words = [rng.getrandbits(64) - (1 << 63) for _ in range(BLOOM_WORDS)]
    words[0] = -(1 << 63)  # Long.MinValue
    words[1] = -1
    words[2] = 0
    keys = spark.range(5000).select(F.col("id").alias("k"))
    got = keys.select(
        "k",
        bloom_might_contain(words, F.col("k")).alias("via_expr"),
        _bloom_probe(F.lit(words), F.col("k")).alias("via_lit"),
    )
    mismatch = got.filter(F.col("via_expr") != F.col("via_lit")).count()
    assert mismatch == 0
    # and the literal itself is element-identical (not just probe-identical)
    arr_sql = "array(" + ",".join(f"{w}L" for w in words) + ")"
    row = keys.sparkSession.range(1).select(
        (F.expr(arr_sql) == F.lit(words)).alias("eq")
    ).collect()
    assert row[0]["eq"] is True
