"""Reference-parity ingest tests (SURVEY §5.2 item 2): the synthetic DD03L
fixture through the full distributed pipeline — paginated scan, parse,
validity split, DDIC casts, dual sinks, count invariant."""

from __future__ import annotations

import datetime
import math
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from guidance_for_sap_data_integration_and_management_on_aws_spark.plans.inspect import (
    executed_plan,
    n_exchanges,
)
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.lake import (
    read_back,
    write_dual_sink,
)
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import (
    MockRfcTransport,
    parse_rfc_frame,
    read_rfc_table,
)

N_ROWS = 2500
PAGE = 1000  # 3 pages, final short page (FIXTURES.md §B pagination requirement)


@pytest.fixture(scope="module")
def parsed(spark):
    raw, fields = read_rfc_table(
        spark, lambda: MockRfcTransport(N_ROWS), "DD03L", page_size=PAGE
    )
    return raw, fields, parse_rfc_frame(raw, fields)


def test_pagination_covers_all_rows(parsed):
    raw, _, _ = parsed
    assert raw.count() == N_ROWS
    # page ids 0..2, and the final page is short
    pages = {r["page"]: r["n"] for r in raw.groupBy("page").agg(F.count("*").alias("n")).collect()}
    assert pages == {0: PAGE, 1: PAGE, 2: N_ROWS - 2 * PAGE}


def test_count_invariant(parsed):
    _, _, p = parsed
    v, e = p.valid.count(), p.errors.count()
    assert v + e == N_ROWS
    # i % 37 == 0 rows are malformed
    assert e == len([i for i in range(N_ROWS) if i % 37 == 0])


def test_schema_from_fields_metadata(parsed):
    _, fields, p = parsed
    assert [f.name for f in fields] == list(p.valid.columns)
    dt = dict(p.valid.dtypes)
    assert dt["POSITION"] == "bigint"  # N
    assert dt["ASDATE"] == "date"  # D
    assert dt["TABNAME"] == "string"  # C


def test_ddic_semantics(parsed):
    _, _, p = parsed
    rows = {r["FIELDNAME"]: r for r in p.valid.collect()}
    # trim applied (reference :169): padded ' FLD_00001 ' arrives trimmed
    assert "FLD_00001" in rows
    r1 = rows["FLD_00001"]
    # N best-effort: i=13 has POSITION '00X13' -> NULL, i=1 -> 1
    assert r1["POSITION"] == 1
    r13 = rows["FLD_00013"]
    assert r13["POSITION"] is None
    # D: i=11 -> '00000000' -> NULL; i=1 -> 1996-02-02
    assert rows["FLD_00011"]["ASDATE"] is None
    assert r1["ASDATE"] == datetime.date(1996, 2, 2)


def test_error_channel_preserves_raw_line(parsed):
    _, _, p = parsed
    err = p.errors.collect()
    assert all(r["arity"] == 9 for r in err)  # one stray delimiter -> 9 fields
    assert all("ROLL`BAD" in r["wa"] for r in err)


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_dual_sink_roundtrip(spark, parsed, fmt):
    _, _, p = parsed
    with tempfile.TemporaryDirectory() as tmp:
        report = write_dual_sink(p, tmp, "DD03L", fmt=fmt, run_ts="2026-01-01-00-00-00")
        assert report.total_count == N_ROWS
        # S7 layout
        assert Path(report.data_path).parts[-3:] == (fmt, "DD03L", "2026-01-01-00-00-00")
        back = read_back(spark, report.data_path, fmt)
        assert back.count() == report.valid_count
        errs = read_back(spark, report.error_path, fmt)
        assert errs.count() == report.err_count


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_reference_object_naming(spark, parsed, fmt):
    """S7 fidelity: reference_naming=True reproduces the reference's
    <table><cumulativeRowCount>.<fmt> object names (pyrfc_read_table.py:
    120-122) — names strictly increasing, the last one equal to the
    channel's row count, and the directory still readable."""
    import re

    _, _, p = parsed
    with tempfile.TemporaryDirectory() as tmp:
        report = write_dual_sink(
            p, tmp, "DD03L", fmt=fmt, run_ts="2026-01-01-00-00-00", reference_naming=True
        )
        names = sorted(
            f for f in Path(report.data_path).iterdir() if f.name.startswith("DD03L")
        )
        assert names, "expected renamed data objects"
        counts = sorted(int(re.match(rf"DD03L(\d+)\.{fmt}", f.name).group(1)) for f in names)
        assert counts == sorted(set(counts)) and counts[-1] == report.valid_count
        assert read_back(spark, report.data_path, fmt).count() == report.valid_count
        err_names = [
            f.name for f in Path(report.error_path).iterdir() if f.name.startswith("DD03L")
        ]
        assert err_names and read_back(spark, report.error_path, fmt).count() == report.err_count


def test_dual_sink_fetches_each_page_once(spark, tmp_path):
    """read_rfc_table -> parse_rfc_frame -> write_dual_sink fetches every
    page exactly once, although both channels and the error count read it.
    Fetches run in Python workers, so they are logged to a file."""
    log = str(tmp_path / "fetches.log")

    class CountingTransport(MockRfcTransport):
        def call(self, query_table, delimiter, rowskips, rowcount, *args, **kwargs):
            if not kwargs.get("no_data"):
                with open(log, "a") as fh:
                    fh.write(f"{rowskips}\n")
            return super().call(query_table, delimiter, rowskips, rowcount, *args, **kwargs)

    raw, fields = read_rfc_table(
        spark, lambda: CountingTransport(N_ROWS), "DD03L", page_size=PAGE
    )
    report = write_dual_sink(
        parse_rfc_frame(raw, fields), str(tmp_path / "lake"), "DD03L", run_ts="r1"
    )
    assert report.total_count == N_ROWS and report.err_count > 0
    with open(log) as fh:
        fetched = sorted(int(line) for line in fh)
    assert fetched == [0, PAGE, 2 * PAGE]


def test_pages_pack_into_contiguous_runs(spark, tmp_path):
    """Each fetch task reads one contiguous, ascending run of pages through
    one transport, with min(n_pages, defaultParallelism) tasks and no
    shuffle; with reference_naming each task's run becomes one object per
    channel, named by the cumulative row count at the run's end."""
    import re
    import uuid

    log = str(tmp_path / "fetches.log")

    class LoggingTransport(MockRfcTransport):
        def __init__(self, n_rows):
            super().__init__(n_rows)
            self.tag = uuid.uuid4().hex

        def call(self, query_table, delimiter, rowskips, rowcount, *args, **kwargs):
            if not kwargs.get("no_data"):
                from pyspark import TaskContext

                with open(log, "a") as fh:
                    fh.write(f"{TaskContext.get().partitionId()} {self.tag} {rowskips}\n")
            return super().call(query_table, delimiter, rowskips, rowcount, *args, **kwargs)

    page_size = 230  # 11 pages
    n_pages = math.ceil(N_ROWS / page_size)
    slots = min(n_pages, spark.sparkContext.defaultParallelism)
    assert slots < n_pages  # premise: local[4] packs 11 pages into 4 tasks
    raw, fields = read_rfc_table(
        spark, lambda: LoggingTransport(N_ROWS), "DD03L", page_size=page_size
    )
    assert n_exchanges(executed_plan(raw)) == 0
    assert raw.rdd.getNumPartitions() == slots
    report = write_dual_sink(
        parse_rfc_frame(raw, fields), str(tmp_path), "DD03L", run_ts="r1",
        reference_naming=True,
    )
    assert report.total_count == N_ROWS

    runs: dict[int, list[int]] = {}
    transports: dict[int, set[str]] = {}
    with open(log) as fh:
        for line in fh:
            pid, tag, skips = line.split()
            runs.setdefault(int(pid), []).append(int(skips) // page_size)
            transports.setdefault(int(pid), set()).add(tag)
    assert sorted(runs) == list(range(slots))
    # each page once, ascending and contiguous within a task, tasks in page order
    assert [p for pid in sorted(runs) for p in runs[pid]] == list(range(n_pages))
    sizes = [len(r) for r in runs.values()]
    assert max(sizes) - min(sizes) <= 1
    assert all(len(t) == 1 for t in transports.values())  # one transport per task

    valid = err = 0
    want_valid, want_err = [], []
    for pid in sorted(runs):
        rows = range(runs[pid][0] * page_size, min((runs[pid][-1] + 1) * page_size, N_ROWS))
        bad = sum(1 for i in rows if i % 37 == 0)  # malformed mock rows
        valid, err = valid + len(rows) - bad, err + bad
        want_valid.append(valid)
        want_err.append(err)
    for path, want in ((report.data_path, want_valid), (report.error_path, want_err)):
        counts = sorted(
            int(m.group(1))
            for f in Path(path).iterdir()
            if (m := re.fullmatch(r"DD03L(\d+)\.parquet", f.name))
        )
        assert counts == want


def test_extract_task_and_object_counts(spark, tmp_path):
    """Counter guard for the packed extract: read -> parse -> dual sink over
    11 pages at local[4] runs a fixed number of Spark tasks and writes one
    object per fetch task per channel.  Per-page fetch tasks (11 per scan)
    would raise both counts."""
    import uuid

    sc = spark.sparkContext
    page_size = 230  # 11 pages -> 4 fetch tasks at local[4]
    n_pages = math.ceil(N_ROWS / page_size)
    slots = min(n_pages, sc.defaultParallelism)
    assert slots < n_pages
    gid = f"extract-counters-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        raw, fields = read_rfc_table(
            spark, lambda: MockRfcTransport(N_ROWS), "DD03L", page_size=page_size
        )
        report = write_dual_sink(parse_rfc_frame(raw, fields), str(tmp_path), "DD03L", run_ts="r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tasks = 0
    for job in tracker.getJobIdsForGroup(gid):
        for sid in tracker.getJobInfo(job).stageIds:
            stage = tracker.getStageInfo(sid)
            tasks += stage.numCompletedTasks if stage else 0
    # valid write + error count (+ 1 task, its final aggregate) + error write:
    # 13 at local[4]
    assert tasks == 3 * slots + 1
    for path in (report.data_path, report.error_path):
        assert len(list(Path(path).glob("part-*.parquet"))) == slots


def test_reference_naming_append_continues_counter(spark, parsed):
    """Appending a second run into the same renamed run path must CONTINUE
    the cumulative counter (reference semantics) instead of restarting at 0
    and clobbering run 1's objects via os.replace."""
    _, _, p = parsed
    with tempfile.TemporaryDirectory() as tmp:
        r1 = write_dual_sink(
            p, tmp, "DD03L", run_ts="2026-01-01-00-00-00", reference_naming=True
        )
        r2 = write_dual_sink(
            p, tmp, "DD03L", run_ts="2026-01-01-00-00-00", reference_naming=True
        )
        total = read_back(spark, r2.data_path).count()
        assert total == r1.valid_count + r2.valid_count  # nothing clobbered


def test_projection_pushdown_capable_transport():
    """P7/P8: the transport applies OPTIONS (ABAP-op where clauses) and
    FIELDS (the BAPI supports them; the reference never passes them —
    SURVEY §2.2)."""
    t = MockRfcTransport(100)
    res = t.call("DD03L", "`", 0, 1000, options=["KEYFLAG EQ 'X'"], fields=["TABNAME"])
    assert len(res["DATA"]) == sum(1 for i in range(100) if i % 5 == 0)
    assert all("`" not in r["WA"] for r in res["DATA"])  # single column on the wire


def test_p_code_decimal_fidelity(spark, sf_dir):
    """The pipeline keeps P-code columns as DECIMAL internally (SAP packed-BCD
    type fidelity); only the REGISTERED query surface re-casts to DOUBLE,
    because the driver's value-hash canonicalizes Decimal vs float apart
    (r02 rfc_parse_valid failure)."""
    from pyspark.sql.types import DecimalType, DoubleType

    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.ingest import (
        FIELDS,
        _wa_frame,
        rfc_parse_valid,
    )

    internal = parse_rfc_frame(_wa_frame(spark, sf_dir), FIELDS).valid
    price_t = internal.schema["price"].dataType
    assert isinstance(price_t, DecimalType) and price_t.scale == 2
    registered = rfc_parse_valid.builder(spark, sf_dir)
    assert isinstance(registered.schema["price"].dataType, DoubleType)


def test_merge_upsert_into_fallback_resolves_versions(spark):
    """merge_upsert_into: without Delta on the classpath the DataFrame
    fallback must produce the same last-write-wins result, with duplicate
    update keys resolved by version_cols BEFORE the merge (the Delta MERGE
    contract: one source row per key)."""
    base = spark.createDataFrame(
        [(1, "a", 10.0, 0), (2, "b", 20.0, 0), (3, "c", 30.0, 0)],
        "k INT, s STRING, v DOUBLE, ver INT",
    )
    base.createOrReplaceTempView("muit_base")
    updates = spark.createDataFrame(
        [(2, "b1", 21.0, 1), (2, "b2", 22.0, 2), (4, "d", 40.0, 1)],
        "k INT, s STRING, v DOUBLE, ver INT",
    )
    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.ingest import (
        merge_upsert_into,
    )

    merged, used_merge_into = merge_upsert_into(
        spark, "muit_base", updates, ["k"], version_cols=["ver"]
    )
    try:
        import delta  # noqa: F401

        assert used_merge_into  # pragma: no cover - delta absent in container
    except ImportError:
        assert not used_merge_into
    rows = {r["k"]: (r["s"], r["v"]) for r in merged.drop("ver").collect()}
    assert rows == {1: ("a", 10.0), 2: ("b2", 22.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_into_delta_route_contract(spark, monkeypatch):
    """The MERGE INTO route (unreachable in this container — delta-spark is
    absent) exercised against a faked delta.tables: the guard must pick the
    Delta path when importable, collapse the delta to ONE source row per key
    BEFORE merging (Delta errors on multiple matches), build the
    null-safe-equality condition, chain matched-update/unmatched-insert, and
    return a fresh read of the mutated table."""
    import sys
    import types

    calls = {}

    class FakeMergeBuilder:
        def __init__(self, sess, table, src, cond):
            self.sess, self.table, self.src = sess, table, src
            calls["cond"] = cond

        def whenMatchedUpdateAll(self):
            calls["matched_update"] = True
            return self

        def whenNotMatchedInsertAll(self):
            calls["unmatched_insert"] = True
            return self

        def execute(self):
            # Delta's MERGE contract: a second source match per key ERRORS
            assert self.src.groupBy("k").count().filter("count > 1").count() == 0
            base = self.sess.read.table(self.table)
            merged = self.src.unionByName(base.join(self.src, ["k"], "left_anti"))
            rows = merged.collect()
            self.sess.createDataFrame(rows, merged.schema).createOrReplaceTempView(
                self.table
            )
            calls["executed"] = True

    class FakeDeltaTable:
        def __init__(self, sess, name):
            self.sess, self.name = sess, name

        @classmethod
        def forName(cls, sess, name):
            return cls(sess, name)

        def alias(self, a):
            return self

        def merge(self, src, cond):
            return FakeMergeBuilder(self.sess, self.name, src, cond)

    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = FakeDeltaTable
    delta_mod = types.ModuleType("delta")
    delta_mod.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", delta_mod)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)

    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.ingest import (
        merge_upsert_into,
    )

    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "k INT, s STRING, ver INT"
    ).createOrReplaceTempView("muit_delta")
    updates = spark.createDataFrame(
        [(2, "b1", 1), (2, "b2", 2), (3, "c", 1)], "k INT, s STRING, ver INT"
    )
    merged, used_merge_into = merge_upsert_into(
        spark, "muit_delta", updates, ["k"], version_cols=["ver"]
    )
    assert used_merge_into
    assert calls == {
        "cond": "t.k <=> u.k",
        "matched_update": True,
        "unmatched_insert": True,
        "executed": True,
    }
    rows = {r["k"]: (r["s"], r["ver"]) for r in merged.collect()}
    assert rows == {1: ("a", 0), 2: ("b2", 2), 3: ("c", 1)}


def test_scd2_history_invariants_random_streams(spark):
    """Property test over random change streams: per key, the emitted
    versions partition the observed timeline (valid_to[i] == valid_from[i+1],
    no overlaps), exactly one open-ended current row exists, the first
    version starts at the key's first event, and no two consecutive versions
    carry equal values."""
    import random

    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.ingest import (
        scd2_history,
    )

    for seed in (7, 99):
        rng = random.Random(seed)
        rows = []
        for eid in range(400):
            rows.append(
                (rng.randrange(12), eid, 1_700_000_000 + eid, float(rng.randrange(4)))
            )
        df = spark.createDataFrame(rows, "k BIGINT, eid BIGINT, ts BIGINT, v DOUBLE")
        out = scd2_history(df, "k", "ts", "eid", "v").collect()
        by_key: dict[int, list] = {}
        for r in out:
            by_key.setdefault(r["k"], []).append(r)
        first_event = {}
        for k, eid, ts, v in rows:
            if k not in first_event or ts < first_event[k]:
                first_event[k] = ts
        for k, vs in by_key.items():
            vs.sort(key=lambda r: r["valid_from_ts"])
            assert vs[0]["valid_from_ts"] == first_event[k]
            assert [r["is_current"] for r in vs].count(True) == 1
            assert vs[-1]["is_current"] and vs[-1]["valid_to_ts"] is None
            for a, b in zip(vs, vs[1:]):
                assert a["valid_to_ts"] == b["valid_from_ts"], (k, a, b)
                assert a["v"] != b["v"], (k, a, b)
