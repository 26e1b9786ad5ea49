"""saprfc DataSource V2 behavior beyond the oracle gate: pushdown actually
reaches the transport, the plan has no residual Filter, and the dead-letter
invariant holds."""

from __future__ import annotations

from pyspark.sql import functions as F

from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import MockRfcTransport
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import register


def _df(spark, **opts):
    register(spark)
    r = spark.read.format("saprfc").option("table", "DD03L")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_corrupt_plus_valid_equals_total(spark):
    df = _df(spark)
    total = df.count()
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).count()
    valid = df.filter(F.col("_corrupt_record").isNull()).count()
    assert total == 2500 and corrupt + valid == total
    assert corrupt == sum(1 for i in range(2500) if i % 37 == 0)


def test_filter_pushdown_consumed_by_source(spark):
    df = _df(spark).filter(F.col("TABNAME") == "TAB3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan saprfc" in plan
    # fully consumed: no residual FilterExec node ("Filter (<cond>)")
    assert "Filter (" not in plan


def test_options_reach_transport_and_reduce_wire_rows():
    t = MockRfcTransport(n_rows=2500)
    full = t.call("DD03L", "`", 0, 10**6)
    filtered = t.call("DD03L", "`", 0, 10**6, options=["TABNAME EQ 'TAB3'"])
    assert len(filtered["DATA"]) < len(full["DATA"])
    assert len(filtered["DATA"]) == sum(1 for i in range(2500) if i % 7 == 3)


def test_fields_param_prunes_wire_columns():
    t = MockRfcTransport(n_rows=100)
    res = t.call("DD03L", "`", 0, 10**6, fields=["TABNAME", "LENG"])
    assert [f["FIELDNAME"] for f in res["FIELDS"]] == ["TABNAME", "LENG"]
    assert all(r["WA"].count("`") == 1 for r in res["DATA"])  # 2 cols -> 1 delim


def test_pagination_partitions(spark):
    df = _df(spark, pagesize="300")
    assert df.rdd.getNumPartitions() == 9  # ceil(2500/300)
    assert df.count() == 2500


def test_stream_reader_offsets_and_volume(spark):
    """The streaming reader's offset arithmetic: offsets are ROWS of the
    server-side stream (initial 0, latest = current row_count), partitions
    cover [start, end) in page-size-bounded slices, and a full
    AvailableNow drain lands every mock row exactly once."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import RfcField
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    fields = [RfcField("TABNAME", "C"), RfcField("POSITION", "N", length=4)]
    r = SapRfcStreamReader({"mockrows": "2500", "pagesize": "300"}, fields)
    assert r.initialOffset() == {"row": 0}
    assert r.latestOffset() == {"row": 2500}
    parts = r.partitions({"row": 600}, {"row": 1500})
    assert [(p.skip, p.count) for p in parts] == [
        (600, 300),
        (900, 300),
        (1200, 300),
    ]
    # a trigger boundary off the page grid still covers every row exactly
    # once (row offsets, not page indexes — the round-13 incremental fix).
    # Fresh instance: planning is per-instance MONOTONIC since round 14
    # (the restart lo-clamp), so an engine-unrealistic backward probe on
    # the same reader would correctly plan empty.
    r2 = SapRfcStreamReader({"mockrows": "2500", "pagesize": "300"}, fields)
    parts = r2.partitions({"row": 250}, {"row": 700})
    assert [(p.skip, p.count) for p in parts] == [(250, 300), (550, 150)]

    from guidance_for_sap_data_integration_and_management_on_aws_spark.streaming.replay import (
        run_to_table,
        scratch_dir,  # noqa: F401  (import parity with ops)
    )

    register(spark)
    s = (
        spark.readStream.format("saprfc")
        .option("table", "DD03L")
        .option("pagesize", "300")
        .load()
    )
    out = run_to_table(s.select("TABNAME"), "mem_saprfc_stream_unit", "append")
    assert out.count() == 2500


def test_stream_latest_offset_follows_table_growth():
    """The round-13 incremental fix: latestOffset() re-queries the
    transport's row_count on EVERY call (it was frozen at construction in
    r12, so a live stream would never see appended rows).  With a growing
    mock, each trigger's partitions cover exactly the newly appended rows
    — the per-trigger wire bound — and a shrinking count never rewinds
    the offset."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    fields = list(MockRfcTransport.FIELDS)
    r = SapRfcStreamReader({"mockrows": "1000", "pagesize": "300"}, fields)
    o0, o1 = r.initialOffset(), r.latestOffset()
    assert (o0, o1) == ({"row": 0}, {"row": 1000})
    t1 = r.partitions(o0, o1)
    assert sum(p.count for p in t1) == 1000  # trigger 1 drains exactly [0, 1000)
    wire1 = sum(b.num_rows for p in t1 for b in r.read(p))
    assert wire1 == 1000

    # the table grows between triggers: mutate the held driver-side
    # transport (what latestOffset polls) and the reader options (what
    # executor-side read() reconstructs its transport from)
    r._transport.n_rows = 2500
    r._delegate.options["mockrows"] = "2500"
    o2 = r.latestOffset()
    assert o2 == {"row": 2500}
    t2 = r.partitions(o1, o2)
    # trigger 2 drains ONLY the appended rows — never re-reads [0, 1000)
    assert min(p.skip for p in t2) == 1000
    assert sum(p.count for p in t2) == 1500
    wire2 = sum(b.num_rows for p in t2 for b in r.read(p))
    assert wire1 + wire2 == 2500  # every row exactly once across triggers

    # a shrinking count (estimate jitter / reorg) never rewinds the offset
    r._transport.n_rows = 100
    assert r.latestOffset() == {"row": 2500}


def test_stream_incremental_composes_with_pushdown():
    """Under the `pushdown` option, offsets count rows of the FILTERED
    server stream (filter-then-page), so growth triggers drain exactly the
    newly appended MATCHING rows — no empty RFC round trips past the
    filtered end (r12 advice), and append-only growth keeps filtered
    positions stable."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    fields = list(MockRfcTransport.FIELDS)
    r = SapRfcStreamReader(
        {"mockrows": "1000", "pagesize": "100", "pushdown": "TABNAME EQ 'TAB3'"},
        fields,
    )
    match1 = sum(1 for i in range(1000) if i % 7 == 3)
    o1 = r.latestOffset()
    assert o1 == {"row": match1}  # filtered count, not table size
    t1 = r.partitions(r.initialOffset(), o1)
    landed1 = sum(b.num_rows for p in t1 for b in r.read(p))

    r._transport.n_rows = 2500
    r._delegate.options["mockrows"] = "2500"
    match2 = sum(1 for i in range(2500) if i % 7 == 3)
    o2 = r.latestOffset()
    assert o2 == {"row": match2}
    t2 = r.partitions(o1, o2)
    assert sum(p.count for p in t2) == match2 - match1  # only the new matches
    landed2 = sum(b.num_rows for p in t2 for b in r.read(p))
    # landed = typed re-verification over the matching stream (corrupt
    # arity rows among the matches fail the value predicate client-side)
    expect = sum(1 for i in range(2500) if i % 7 == 3 and i % 37 != 0)
    assert landed1 + landed2 == expect


def test_numc_literals_render_zero_padded():
    """The r12-advice NUMC fix: the server compares NUMC character-wise
    against zero-padded storage, so unpadded literals silently drop rows
    ('0999' GT '250' is false char-wise — the classic RFC_READ_TABLE
    gotcha).  The renderer must pad to the declared LENGTH, skip literals
    that cannot pad (negative / wider than the field / unknown length),
    and the padded wire text must select exactly the numeric law."""
    from pyspark.sql.datasource import GreaterThan, In, LessThan

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import RfcField
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        _render_options,
    )

    fields = list(MockRfcTransport.FIELDS)
    assert _render_options([GreaterThan(("POSITION",), 250)], fields) == [
        "POSITION GT '0250'"
    ]
    assert _render_options([In(("POSITION",), (4, 17))], fields) == [
        "POSITION IN ('0004', '0017')"
    ]
    # unpaddable literals skip the clause (ride the wire unfiltered):
    assert _render_options([GreaterThan(("POSITION",), -1)], fields) == []
    assert _render_options([GreaterThan(("POSITION",), 99999)], fields) == []
    assert _render_options([In(("POSITION",), (4, 99999))], fields) == []
    unknown = [RfcField("POSITION", "N")]  # length 0 = unknown
    assert _render_options([GreaterThan(("POSITION",), 250)], unknown) == []

    # the server-side law: padded GT selects the numeric law over valid
    # values; the unpadded wire text would have dropped every 0-prefixed
    # row whose numeric value exceeds the literal
    t = MockRfcTransport(n_rows=2500)
    padded = len(t.call("DD03L", "`", 0, 10**6, options=["POSITION GT '0250'"])["DATA"])
    law = sum(
        1
        for i in range(2500)
        if (f"00X{i % 97}" if i % 13 == 0 else f"{i % 500:04d}") > "0250"
    )
    assert padded == law
    # numeric-law subset check on parseable values: every i%500>250 row
    # (non-corrupt) is kept by the padded comparison
    parseable = sum(1 for i in range(2500) if i % 13 != 0 and i % 500 > 250)
    assert padded >= parseable
    unpadded = len(t.call("DD03L", "`", 0, 10**6, options=["POSITION GT '250'"])["DATA"])
    # the gotcha, modeled: char-wise '0xxx' never exceeds '250'
    assert unpadded < parseable


def test_not_equal_renders_as_ne_on_the_wire(spark):
    """Round-13 addition #2: an accepted != filter renders as an OPTIONS
    NE line (it used to ride the wire unfiltered), the complement table
    covers the other negated comparisons, and the plan stays fully
    consumed with exact results."""
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        IsNull,
        LessThanOrEqual,
        Not,
    )

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        _render_options,
    )

    fields = list(MockRfcTransport.FIELDS)
    assert _render_options([Not(EqualTo(("TABNAME",), "TAB3"))], fields) == [
        "TABNAME NE 'TAB3'"
    ]
    assert _render_options([Not(GreaterThan(("POSITION",), 250))], fields) == [
        "POSITION LE '0250'"
    ]
    assert _render_options([Not(LessThanOrEqual(("ASDATE",), __import__("datetime").date(2000, 1, 1)))], fields) == [
        "ASDATE GT '20000101'"
    ]
    # double negation unwraps to the positive shape
    assert _render_options([Not(Not(EqualTo(("TABNAME",), "TAB3")))], fields) == [
        "TABNAME EQ 'TAB3'"
    ]
    # null-acceptance under Not must NOT render: Not(EqualNullSafe(lit))
    # is TRUE for NULL-typed rows a server NE could drop (narrowing)
    assert _render_options([Not(EqualNullSafe(("TABNAME",), "TAB3"))], fields) == []
    assert _render_options([Not(IsNull(("TABNAME",)))], fields) == []
    # positive EqualNullSafe against a non-null literal renders as EQ
    assert _render_options([EqualNullSafe(("TABNAME",), "TAB3")], fields) == [
        "TABNAME EQ 'TAB3'"
    ]
    assert _render_options([EqualNullSafe(("TABNAME",), None)], fields) == []

    # end-to-end: != consumed by the source, wire volume shrinks, results
    # match the unpushed plan
    df = _df(spark).filter(F.col("TABNAME") != "TAB3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan saprfc" in plan
    assert "Filter (" not in plan
    expect = sum(1 for i in range(2500) if i % 7 != 3 and i % 37 != 0)
    assert df.count() == expect
    t = MockRfcTransport(n_rows=2500)
    wire = len(t.call("DD03L", "`", 0, 10**6, options=["TABNAME NE 'TAB3'"])["DATA"])
    assert wire == sum(1 for i in range(2500) if i % 7 != 3)


def test_limit_pushdown_planning_and_volume_laws():
    """Property check (hypothesis-style sweep, pure Python — the reader and
    mock transport need no Spark session): for every (maxrows, pagesize,
    mockrows) combination, the planner schedules exactly
    ceil(min(maxrows, n) / pagesize) pages (never a full-table plan plus a
    post-scan limit) and the scan parses exactly the first min(maxrows, n)
    wire rows — corrupt lines included, since ROWCOUNT bounds wire rows,
    not valid rows."""
    import math

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
    )

    fields = list(MockRfcTransport.FIELDS)
    for n in (1, 36, 37, 100, 2500):
        for page in (7, 100, 500):
            for limit in (1, page - 1, page, page + 1, n, n + 50):
                opts = {
                    "mockrows": str(n),
                    "pagesize": str(page),
                    "maxrows": str(limit),
                }
                r = SapRfcReader(opts, fields)
                parts = r.partitions()
                want = max(1, math.ceil(min(limit, n) / page))
                assert len(parts) == want, (n, page, limit)
                wire = 0
                for p in parts:
                    for batch in r.read(p):
                        # every parsed line lands in exactly one output row
                        # (valid or corrupt), so batch rows == wire rows
                        wire += batch.num_rows
                assert wire == min(limit, n), (n, page, limit)


def test_limit_composes_with_filter_pushdown():
    """maxrows bounds the wire rows BEFORE the pushed OPTIONS filter on the
    server side paginates them (the transport filters, then pages — SAP's
    open-SQL semantics), so limit+filter returns the first maxrows rows OF
    THE FILTERED stream, never maxrows unfiltered rows re-filtered."""
    from pyspark.sql.datasource import EqualTo

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
    )

    fields = list(MockRfcTransport.FIELDS)
    r = SapRfcReader(
        {"mockrows": "2500", "pagesize": "100", "maxrows": "150"}, fields
    )
    leftover = list(r.pushFilters([EqualTo(("TABNAME",), "TAB3")]))
    assert leftover == []  # accepted by the source
    rows = 0
    for p in r.partitions():
        for batch in r.read(p):
            col = batch.column(0).to_pylist()
            assert all(v == "TAB3" for v in col)
            rows += batch.num_rows
    # expected from the generator law: the filtered wire stream is the ids
    # with i%7==3 (server-side OPTIONS matches the RAW values); the limit
    # keeps its first 150, and of those the i%37==0 ids arrive as
    # arity-mismatched lines that the value-comparing pushed filter drops
    # client-side (EqualTo on the all-NULL corrupt row is not True)
    filtered_ids = [i for i in range(2500) if i % 7 == 3][:150]
    expect = sum(1 for i in filtered_ids if i % 37 != 0)
    assert rows == expect == 146


def test_stream_reader_rejects_maxrows():
    """The stream path has NO pushdown — including the limit: the delegate's
    ROWCOUNT truncation against limit-less page planning would send
    ROWCOUNT<=0 calls for later pages (ROWCOUNT=0 means 'no restriction'
    to a live RFC server — a silent full re-fetch into the stream).
    Silently stripping the option would hand the user a full-table stream
    with no signal, so the reader fails loud instead (round-10 advice)."""
    import pytest

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    fields = list(MockRfcTransport.FIELDS)
    with pytest.raises(ValueError, match="maxrows is not supported"):
        SapRfcStreamReader(
            {"mockrows": "2500", "pagesize": "500", "maxrows": "1000"}, fields
        )
    # without the option the stream plans and drains the full table
    r = SapRfcStreamReader({"mockrows": "2500", "pagesize": "500"}, fields)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    assert len(parts) == 5
    wire = sum(b.num_rows for p in parts for b in r.read(p))
    assert wire == 2500  # every wire row lands exactly once


def test_in_like_options_render_and_guards():
    """P7 whitelist growth (round-11): In renders to an OPTIONS value list
    and StringStartsWith to a LIKE prefix — with the guards that keep
    rendering a pure optimization: LIKE only against string-typed columns
    (wildcards in the prefix ride through unescaped — they only WIDEN the
    server match, and the typed re-verification restores exact startswith
    semantics); In only when every literal renders; quotes escape by
    doubling."""
    import datetime

    from pyspark.sql.datasource import In, StringStartsWith

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
        _render_options,
    )

    fields = list(MockRfcTransport.FIELDS)
    r = SapRfcReader({"mockrows": "100"}, fields)
    sf = r._string_fields()
    assert "ROLLNAME" in sf and "TABNAME" in sf
    assert "POSITION" not in sf and "ASDATE" not in sf  # N / D typed

    assert _render_options(
        [In(("ROLLNAME",), ("ROLL2", "ROLL5"))], fields
    ) == ["ROLLNAME IN ('ROLL2', 'ROLL5')"]
    assert _render_options(
        [StringStartsWith(("FIELDNAME",), "FLD_01")], fields
    ) == ["FIELDNAME LIKE 'FLD_01%'"]
    # date literals render in the RFC wire format inside IN lists
    assert _render_options(
        [In(("ASDATE",), (datetime.date(2001, 2, 3),))], fields
    ) == ["ASDATE IN ('20010203')"]
    # a wildcard prefix renders as-is (server match widens, never narrows)
    assert _render_options([StringStartsWith(("ROLLNAME",), "RO%")], fields) == [
        "ROLLNAME LIKE 'RO%%'"
    ]
    # round-12: the remaining accepted string predicates render too —
    # suffix and substring LIKE patterns, same string-typed guard
    from pyspark.sql.datasource import StringContains, StringEndsWith

    assert _render_options([StringEndsWith(("FIELDNAME",), "7")], fields) == [
        "FIELDNAME LIKE '%7'"
    ]
    assert _render_options([StringContains(("ROLLNAME",), "L1")], fields) == [
        "ROLLNAME LIKE '%L1%'"
    ]
    assert _render_options([StringEndsWith(("POSITION",), "4")], fields) == []
    assert _render_options([StringContains(("ASDATE",), "2001")], fields) == []
    assert _render_options([StringContains(("ROLLNAME",), "O'B")], fields) == [
        "ROLLNAME LIKE '%O''B%'"
    ]
    # guards: non-string LIKE target, unrenderable literal, empty IN
    assert _render_options([StringStartsWith(("POSITION",), "04")], fields) == []
    assert _render_options([In(("ROLLNAME",), ("a", 1.5))], fields) == []
    assert _render_options([In(("ROLLNAME",), ())], fields) == []
    # quote escaping round-trips through the mock's unescape
    assert _render_options([In(("ROLLNAME",), ("O'Brien",))], fields) == [
        "ROLLNAME IN ('O''Brien')"
    ]
    assert MockRfcTransport._unq("O''Brien") == "O'Brien"


def test_in_like_options_reduce_wire_rows_exactly():
    """Exact wire-row volume law for the two new OPTIONS shapes (the
    limit-leg sweep precedent): for every (options, skip, count) cell the
    server returns precisely the generator-law matching ids, filtered THEN
    paged — SAP's open-SQL semantics."""
    t = MockRfcTransport(n_rows=2500)
    cases = [
        (["ROLLNAME IN ('ROLL2', 'ROLL5')"], lambda i: i % 11 in (2, 5)),
        (["FIELDNAME LIKE 'FLD_01%'"], lambda i: 1000 <= i < 2000),
        (["TABNAME LIKE 'TAB_'"], lambda i: True),  # _ = exactly one char
        (["ROLLNAME LIKE 'ROLL1'"], lambda i: i % 11 == 1),  # no wildcard
        # conjunctions join with an explicit AND since r15: the server
        # concatenates the char72 lines into ONE dynamic WHERE, inserting
        # nothing between them
        (
            ["ROLLNAME IN ('ROLL2', 'ROLL5') AND FIELDNAME LIKE 'FLD_01%'"],
            lambda i: i % 11 in (2, 5) and 1000 <= i < 2000,
        ),
        # same conjunction wrapped across two lines at a token boundary:
        # re-concatenation must reproduce the one-line semantics exactly
        (
            ["ROLLNAME IN ('ROLL2', 'ROLL5') AND", "FIELDNAME LIKE 'FLD_01%'"],
            lambda i: i % 11 in (2, 5) and 1000 <= i < 2000,
        ),
        # NUMC membership is char-wise against zero-padded storage: the
        # client renders padded literals (r12 advice), and the unpadded
        # form — the classic RFC_READ_TABLE gotcha — matches NOTHING
        (
            ["POSITION IN ('0004', '0017')"],
            lambda i: i % 13 != 0 and i % 500 in (4, 17),
        ),
        (["POSITION IN ('4', '17')"], lambda i: False),
        # round-12 shapes: suffix and substring LIKE (FLD_%05d ends with
        # '7' iff i%10==7; ROLL{i%11} contains 'L1' iff i%11 in (1, 10))
        (["FIELDNAME LIKE '%7'"], lambda i: i % 10 == 7),
        (["ROLLNAME LIKE '%L1%'"], lambda i: i % 11 in (1, 10)),
        (
            ["FIELDNAME LIKE '%7' AND ROLLNAME LIKE '%L1%'"],
            lambda i: i % 10 == 7 and i % 11 in (1, 10),
        ),
    ]
    for options, law in cases:
        matching = [i for i in range(2500) if law(i)]
        for skip, count in ((0, 10**6), (0, 50), (25, 100), (len(matching), 10)):
            got = t.call("DD03L", "`", skip, count, options=options)["DATA"]
            assert len(got) == len(matching[skip : skip + count]), (options, skip)
        full = t.call("DD03L", "`", 0, 10**6, options=options)["DATA"]
        assert len(full) == len(matching), options


def test_in_like_compose_with_limit_and_projection():
    """filter(In+StartsWith) x maxrows x fields through the full reader:
    the wire carries the first maxrows rows OF THE FILTERED stream with
    only the projected columns, and the client's typed re-verification
    drops exactly the corrupt (arity-mismatched) survivors."""
    from pyspark.sql.datasource import In, StringStartsWith

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
    )

    names = [f.name for f in MockRfcTransport.FIELDS]
    keep = ["TABNAME", "FIELDNAME", "ROLLNAME"]
    fields = [f for f in MockRfcTransport.FIELDS if f.name in keep]
    r = SapRfcReader(
        {"mockrows": "2500", "pagesize": "40", "maxrows": "120"}, fields
    )
    leftover = list(
        r.pushFilters(
            [
                In(("ROLLNAME",), ("ROLL2", "ROLL5")),
                StringStartsWith(("FIELDNAME",), "FLD_01"),
            ]
        )
    )
    assert leftover == []  # both accepted by the source
    assert len(r.partitions()) == 3  # ceil(120/40)
    rows = 0
    for p in r.partitions():
        for batch in r.read(p):
            assert batch.num_columns == len(keep) + 1  # + _corrupt_record
            assert all(v.startswith("FLD_01") for v in batch.column(1).to_pylist())
            assert all(
                v in ("ROLL2", "ROLL5") for v in batch.column(2).to_pylist()
            )
            rows += batch.num_rows
    filtered_ids = [
        i for i in range(2500) if i % 11 in (2, 5) and 1000 <= i < 2000
    ][:120]
    # corruption lives in ROLLNAME — kept by this projection — so the
    # i%37==0 survivors of the filtered+limited stream arrive as
    # arity-mismatched lines the value-comparing pushed filters drop
    # client-side (In over the all-NULL corrupt row is not True)
    expect = sum(1 for i in filtered_ids if i % 37 != 0)
    assert rows == expect == 117
    assert "ROLLNAME" in names  # the corrupted source column, for the record


def test_in_like_plan_lock(spark):
    """Plan lock for the new rendering legs: isin + startswith are fully
    consumed by the source (no residual FilterExec) and the rendered
    OPTIONS lines reach the transport call."""
    df = _df(spark).filter(
        F.col("ROLLNAME").isin("ROLL2", "ROLL5")
        & F.col("FIELDNAME").startswith("FLD_01")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan saprfc" in plan
    assert "Filter (" not in plan
    # wire volume confirms server-side filtering actually happened: the
    # transport returns only matching (plus corrupt-source) rows
    n = df.count()
    expect = sum(
        1
        for i in range(2500)
        if i % 11 in (2, 5) and 1000 <= i < 2000 and i % 37 != 0
    )
    assert n == expect


def test_suffix_contains_plan_lock(spark):
    """Plan lock for the round-12 rendering legs: endswith + contains are
    fully consumed by the source (no residual FilterExec) and return
    exactly the generator-law rows after typed re-verification."""
    df = _df(spark).filter(
        F.col("FIELDNAME").endswith("7") & F.col("ROLLNAME").contains("L1")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan saprfc" in plan
    assert "Filter (" not in plan
    expect = sum(
        1
        for i in range(2500)
        if i % 10 == 7 and i % 11 in (1, 10) and i % 37 != 0
    )
    assert df.count() == expect


def test_stream_pushdown_spec_parses_renders_and_reduces_wire_rows():
    """The `pushdown` option (round-12): the clause spec parses into the
    batch path's Filter objects, renders into wire OPTIONS, the server
    filters BEFORE paging (wire volume shrinks), and the typed
    re-verification narrows the widened server match back to exact
    semantics — landed rows equal the generator law of the batch pushdown
    oracle."""
    from pyspark.sql.datasource import EqualTo, LessThan

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    fields = list(MockRfcTransport.FIELDS)
    r = SapRfcStreamReader(
        {
            "mockrows": "2500",
            "pagesize": "300",
            "pushdown": "TABNAME EQ 'TAB3'; POSITION LT '250'",
        },
        fields,
    )
    acc = r._delegate.accepted
    assert [type(f) for f in acc] == [EqualTo, LessThan]
    assert acc[1].value == 250  # typed literal: int, not the wire text
    opts = r._delegate.wire_options()
    # the NUMC literal rides the wire zero-padded to the declared LENGTH
    # (char-wise server comparison, r12 advice); since r15 the clauses
    # AND-join into one WHERE text wrapped across char72 lines
    assert opts == ["TABNAME EQ 'TAB3' AND POSITION LT '0250'"]

    # wire volume: the server filters then pages, so far fewer rows cross
    t = MockRfcTransport(n_rows=2500)
    wire = len(t.call("DD03L", "`", 0, 10**6, options=opts)["DATA"])
    assert wire < 2500

    # landed rows across a full drain == the batch pushdown oracle law
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    landed = sum(b.num_rows for p in parts for b in r.read(p))
    expect = sum(
        1
        for i in range(2500)
        if i % 37 != 0 and i % 7 == 3 and i % 13 != 0 and i % 500 < 250
    )
    assert landed == expect
    assert landed <= wire  # re-verification only ever narrows


def test_pushdown_spec_grammar_fails_loud():
    """Misspelled clauses must raise, not silently stream the wrong data:
    unknown column, unknown operator, bad literal for the column type,
    string predicate on a non-string column, empty IN list."""
    import pytest

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        parse_pushdown_spec,
    )

    fields = list(MockRfcTransport.FIELDS)
    for bad, msg in [
        ("NOPE EQ 'x'", "unknown column"),
        ("TABNAME ~~ 'x'", "unparseable pushdown clause"),
        ("POSITION LT 'abc'", "does not parse as column"),
        ("POSITION CONTAINS '4'", "needs a string-typed column"),
        ("ROLLNAME IN ()", "empty IN list"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_pushdown_spec(bad, fields)
    # quote escaping and typed IN literals round-trip
    got = parse_pushdown_spec(
        "ROLLNAME EQ 'O''Brien'; POSITION IN ('4', '17'); "
        "FIELDNAME ENDSWITH '7'",
        fields,
    )
    assert got[0].value == "O'Brien"
    assert got[1].value == (4, 17)
    assert got[2].value == "7"


def test_mock_like_evaluator_matches_sql_like():
    """The mock transport's LIKE evaluator (regex-compiled, rfc.py) models
    SAP open-SQL's LIKE; pin it against a real SQL engine's LIKE (DuckDB)
    over the cross product of fixture-like values and every pattern shape
    the renderer emits — prefix/suffix/substring wildcards, bare `_`,
    mixed literals, quote-escaped literals.  Backslash patterns are out of
    the modeled grammar (the OPTIONS text is ESCAPE-free and engines
    disagree on default escapes), and the renderer never emits them."""
    import re as _re

    import duckdb

    vals = [
        "TAB3", "TAB", "TAB33", "ROLL1", "ROLL10", "ROLL", "FLD_00107",
        "FLD_01007", "X", "", "CHAR", "NUMC", "O'Brien", "A_B", "A%B",
        "TAB_", "aTAB3",
    ]
    pats = [
        "TAB3", "TAB%", "%7", "%L1%", "TAB_", "RO%L", "%", "_", "%%",
        "__", "%O''Brien%", "A_B", "%_%", "T%3", "%B", "A%",
    ]
    con = duckdb.connect()
    diverged = []
    for v in vals:
        for p in pats:
            unq = MockRfcTransport._unq(p)
            # the mock's compiled form (rfc.py _matches LIKE branch)
            rx = "".join(
                ".*" if ch == "%" else "." if ch == "_" else _re.escape(ch)
                for ch in unq
            )
            mock = bool(_re.fullmatch(rx, v))
            sql = bool(con.execute("SELECT ? LIKE ?", [v, unq]).fetchone()[0])
            if mock != sql:
                diverged.append((v, p, mock, sql))
    assert diverged == [], diverged[:10]


def test_stream_pushdown_wire_volume_scales_with_matches():
    """Scale law for the round-12 stream pushdown: the wire volume grows
    with the MATCH count, not the table size — at 10x the table, an
    equality predicate's wire rows grow ~10x the matches (still ~1/7th of
    the table), while the unpushed stream pulls all 10x rows.  This is the
    100 TB posture: a streaming extraction of a big SAP table must not
    pull pages it filters away."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    fields = list(MockRfcTransport.FIELDS)
    for n in (2500, 25000):
        r = SapRfcStreamReader(
            {
                "mockrows": str(n),
                "pagesize": "500",
                "pushdown": "TABNAME EQ 'TAB3'",
            },
            fields,
        )
        opts = r._delegate.wire_options()
        t = MockRfcTransport(n_rows=n)
        wire = len(t.call("DD03L", "`", 0, 10**9, options=opts)["DATA"])
        expect_match = sum(1 for i in range(n) if i % 7 == 3)
        assert wire == expect_match  # exactly the server-matching rows
        assert wire < n / 6  # never the full table


def test_in_three_valued_semantics_match_spark(spark):
    """_eval_filter's In must follow SQL three-valued logic, pinned against
    live Spark: v IN (a, b, ...) is an OR of equalities — True on a match,
    NULL (not False) when nothing matches and the list contains NULL.  The
    divergence is only observable under Not(): Not(False)=True would keep
    rows Spark's NOT IN drops, and accepted filters are consumed, so Spark
    never re-applies them (round-11 advice)."""
    from pyspark.sql.datasource import In, Not

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        _eval_filter,
    )

    vals = ["a", "b", None]
    df = spark.createDataFrame([(v,) for v in vals], "c STRING")
    for lst in [("a",), ("a", None), ("z", None), ("z",)]:
        cond = F.col("c").isin(*lst)
        spark_in = {r["c"] for r in df.filter(cond).collect()}
        spark_not_in = {r["c"] for r in df.filter(~cond).collect()}
        for v in vals:
            ev = _eval_filter(In(("c",), lst), {"c": v})
            assert (ev is True) == (v in spark_in), (lst, v, ev)
            nv = _eval_filter(Not(In(("c",), lst)), {"c": v})
            assert (nv is True) == (v in spark_not_in), (lst, v, nv)
    # incomparable literal types mirror _cmp's conservatism: NULL, not False
    assert _eval_filter(In(("c",), (7,)), {"c": "a"}) is None
    assert _eval_filter(In(("c",), (7, "a")), {"c": "a"}) is True


def test_clear_caches_extractor_guards():
    """clear_caches fail-loud convention (r10 advice + r11 refinement): a
    non-string sf_of_key result AND a raising extractor both surface as the
    diagnostic TypeError; the extractor runs once per key."""
    import pytest

    from guidance_for_sap_data_integration_and_management_on_aws_spark import caches

    calls = []

    def sf_of(k):
        calls.append(k)
        return k[1]

    n_before = len(caches._REGISTRY)
    try:
        caches.register_cache({("app", "/sf/dir"): object()}, sf_of)
        assert caches.clear_caches("/sf/dir") == 1
        assert calls == [("app", "/sf/dir")]  # single extraction per key
        bad_type = caches.register_cache({("app", 42): object()})
        with pytest.raises(TypeError, match="sf_of_key returned"):
            caches.clear_caches("/sf/dir")
        bad_type.clear()
        bad_raise = caches.register_cache({("short",): object()})
        with pytest.raises(TypeError, match="sf_of_key raised"):
            caches.clear_caches("/sf/dir")
        bad_raise.clear()
        caches.clear_caches(None)  # emptied test dicts sweep clean
    finally:
        # deregister the test dicts so later sweeps don't re-validate them
        del caches._REGISTRY[n_before:]


def test_negative_maxrows_rejected():
    """A negative bound must fail loud at reader construction: passed
    through, Python-slice semantics on the mock silently return 'all but
    the last N rows', and a live RFC ROWCOUNT<0 is undefined."""
    import pytest

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
    )

    with pytest.raises(ValueError, match="maxrows must be positive"):
        SapRfcReader({"mockrows": "100", "maxrows": "-5"}, list(MockRfcTransport.FIELDS))


def test_arrow_schema_twin_matches_spark_mapping():
    """_pa_type must be exactly Spark's own Arrow image of _spark_type for
    every DDIC code (including every decimal scale the P path can carry):
    the reader declares the StructType through one function and builds its
    RecordBatches through the other, and a silent divergence (say, a P
    scale mismatch) crashes the Arrow column build at read time on the
    executor — the differential-pin convention applied to this type-map
    twin."""
    from pyspark.sql.pandas.types import to_arrow_type

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import RfcField
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        _pa_type,
        _spark_type,
    )

    for code in ["C", "N", "D", "T", "P", "F", "I", "s", "b", "X", "y", "g"]:
        for scale in (0, 2, 3, 10, 38):
            f = RfcField("F1", code, decimal_scale=scale)
            assert _pa_type(f) == to_arrow_type(_spark_type(f)), (code, scale)


def test_stream_restart_clamp_never_rewinds_behind_checkpoint():
    """Round-14 (r13 advice): the offset high-water mark is per-instance,
    so a RESTARTED stream (fresh reader, mark 0) whose row_count estimate
    jitters below the checkpointed start used to hand the engine an offset
    behind start — and the next growth past that count re-delivered
    [count, start) as duplicates.  partitions() now seeds the mark from the
    engine's durable start and clamps the batch to [start, max(start, end)):
    the jittered trigger plans an empty batch, and growth resumes AT the
    checkpoint, never behind it."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    fields = list(MockRfcTransport.FIELDS)
    # fresh instance = restarted query; the checkpointed start is 1000 but
    # the transport's current estimate reads 800
    r = SapRfcStreamReader({"mockrows": "800", "pagesize": "300"}, fields)
    jittered = r.latestOffset()
    assert jittered == {"row": 800}  # first poll can't know the checkpoint
    # the engine hands partitions() the durable start: empty batch, no rewind
    assert r.partitions({"row": 1000}, jittered) == []
    # the mark is now anchored at the checkpoint even though the estimate
    # still reads low — the engine never sees an offset behind start again
    assert r.latestOffset() == {"row": 1000}
    # ENGINE-ACCURATE growth trace (round-14 review): MicroBatchExecution
    # logged the jittered 800 as its committed offset when it ran the
    # empty batch above, so the growth batch arrives with start=800 —
    # NOT the checkpointed 1000.  The lo-clamp against the seeded mark is
    # what keeps [800, 1000) from being re-delivered as duplicates.
    r._transport.n_rows = 1200
    r._delegate.options["mockrows"] = "1200"
    grown = r.latestOffset()
    assert grown == {"row": 1200}
    parts = r.partitions({"row": 800}, grown)
    assert [(p.skip, p.count) for p in parts] == [(800 + 200, 200)]
    # steady state is untouched: start == previous end == mark plans the
    # full range as-is
    r._transport.n_rows = 1500
    r._delegate.options["mockrows"] = "1500"
    parts = r.partitions({"row": 1200}, r.latestOffset())
    assert [(p.skip, p.count) for p in parts] == [(1200, 300)]


def test_or_disjunction_renders_wire_group_and_reverifies():
    """P7 OR leg (round-14): an 'A OR B' spec clause renders as ONE
    parenthesized OPTIONS line with char-safe literals (NUMC zero-padded),
    the server filters before paging (wire volume shrinks to exactly the
    group's char-wise matches), planning tiles the filtered count, and the
    client re-verifies with three-valued OR so the result equals the
    unpushed scan + the same predicates."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
        _eval_filter,
    )

    fields = list(MockRfcTransport.FIELDS)
    spec = "TABNAME EQ 'TAB3' OR POSITION LT '40'; ROLLNAME NE 'ROLL7'"
    pushed = SapRfcReader(
        {"mockrows": "2500", "pagesize": "300", "pushdown": spec}, fields
    )
    assert pushed.wire_options() == [
        "( TABNAME EQ 'TAB3' OR POSITION LT '0040' ) AND ROLLNAME NE 'ROLL7'"
    ]
    # server-side volume: the mock keeps exactly the char-wise group matches
    t = MockRfcTransport(n_rows=2500)
    wire = t.call("DD03L", "`", 0, 10**9, options=pushed.wire_options())["DATA"]
    n_filtered = t.row_count("DD03L", pushed.wire_options())
    assert len(wire) == n_filtered < 2500
    # planning exactness: partitions tile [0, filtered_count)
    assert sorted((p.skip, p.count) for p in pushed.partitions()) == [
        (skip, min(300, n_filtered - skip)) for skip in range(0, n_filtered, 300)
    ]
    # semantics: pushed scan == unpushed scan + typed three-valued OR
    def rows_of(reader):
        out = []
        for p in reader.partitions():
            for b in reader.read(p):
                out.extend(
                    zip(*[b.column(i).to_pylist() for i in range(b.num_columns)])
                )
        return sorted(out, key=lambda r: tuple(str(x) for x in r))

    plain = SapRfcReader({"mockrows": "2500", "pagesize": "300"}, fields)
    names = [f.name for f in fields]
    expect = [
        row
        for row in rows_of(plain)
        if all(
            _eval_filter(f, dict(zip(names, row[: len(names)]))) is True
            for f in pushed.accepted
        )
    ]
    assert rows_of(pushed) == sorted(
        expect, key=lambda r: tuple(str(x) for x in r)
    )
    # NULL-POSITION rows survive ONLY via the other disjunct (three-valued
    # OR): every kept row with POSITION None must be TAB3
    kept = rows_of(pushed)
    pos_i, tab_i = names.index("POSITION"), names.index("TABNAME")
    null_pos = [r for r in kept if r[pos_i] is None and r[-1] is None]
    assert null_pos and all(r[tab_i] == "TAB3" for r in null_pos)


def test_or_group_rendering_is_all_or_nothing():
    """Dropping one disjunct from a rendered group would NARROW the server
    set (superset-obligation violation) — so one unrenderable child
    (a wider-than-field NUMC literal has no order-preserving wire form)
    unrenders the WHOLE group, which then rides the wire unfiltered and is
    re-verified typed."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
        _eval_filter,
    )

    fields = list(MockRfcTransport.FIELDS)
    spec = "TABNAME EQ 'TAB3' OR POSITION GT '99999'"
    pushed = SapRfcReader(
        {"mockrows": "500", "pagesize": "300", "pushdown": spec}, fields
    )
    assert pushed.wire_options() == []  # no partial "( TABNAME EQ 'TAB3' )"
    # unfiltered ride: every wire row crosses, the typed re-verify filters
    names = [f.name for f in fields]
    got = []
    for p in pushed.partitions():
        for b in pushed.read(p):
            got.extend(zip(*[b.column(i).to_pylist() for i in range(b.num_columns)]))
    assert len(got) == sum(
        1
        for i in range(500)
        if i % 37 != 0 and (i % 7 == 3 or (i % 13 != 0 and i % 500 > 99999))
    )
    vals = [dict(zip(names, r[: len(names)])) for r in got]
    assert all(
        all(_eval_filter(f, v) is True for f in pushed.accepted) for v in vals
    )


def test_stream_projection_ships_only_requested_fields(monkeypatch):
    """P8 on the stream path (round-14): with a projected fields list,
    EVERY per-trigger transport call carries exactly the requested FIELDS
    — the wire never ships the pruned columns (per-trigger wire assertion
    for saprfc_stream_projection's oracle row)."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    calls: list[tuple] = []
    orig = MockRfcTransport.call

    def recording(self, qt, d, skips, cnt, options=(), fields=()):
        calls.append((skips, cnt, tuple(fields)))
        return orig(self, qt, d, skips, cnt, options=options, fields=fields)

    monkeypatch.setattr(MockRfcTransport, "call", recording)
    want = [f for f in MockRfcTransport.FIELDS if f.name in ("TABNAME", "ASDATE")]
    r = SapRfcStreamReader({"mockrows": "1000", "pagesize": "300"}, want)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    wire_rows = 0
    for p in parts:
        for b in r.read(p):
            wire_rows += b.num_rows
            assert b.num_columns == 3  # TABNAME, ASDATE, _corrupt_record
    assert wire_rows == 1000  # ROLLNAME's corruption never crosses the wire
    assert calls and all(f == ("TABNAME", "ASDATE") for _, _, f in calls)


def test_disjunction_plan_lock(spark):
    """End-to-end through Spark: the `pushdown` OR option yields a plan
    with the saprfc BatchScan and NO residual Filter node (the predicate
    lives entirely in the source), and the row count obeys the generator
    law for (TAB3 OR POSITION<40) under three-valued OR."""
    df = _df(spark, pushdown="TABNAME EQ 'TAB3' OR POSITION LT '40'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan saprfc" in plan
    assert "Filter (" not in plan
    assert df.count() == sum(
        1
        for i in range(2500)
        if i % 37 != 0 and (i % 7 == 3 or (i % 13 != 0 and i % 500 < 40))
    )


def test_stream_projection_composes_with_pushdown():
    """fields x pushdown on the stream path: both options reach the shared
    delegate, so the wire ships only the requested columns OF the
    server-filtered stream — and a pushdown clause referencing a PRUNED
    column fails loud (the typed re-verify cannot check a column that
    never arrives; silently dropping the clause would hand back wrong
    data forever)."""
    import pytest

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcStreamReader,
    )

    want = [f for f in MockRfcTransport.FIELDS if f.name in ("TABNAME", "POSITION")]
    r = SapRfcStreamReader(
        {
            "mockrows": "1000",
            "pagesize": "300",
            "pushdown": "TABNAME EQ 'TAB3' OR POSITION LT '40'",
        },
        want,
    )
    rows = []
    for p in r.partitions(r.initialOffset(), r.latestOffset()):
        for b in r.read(p):
            assert b.num_columns == 3  # TABNAME, POSITION, _corrupt_record
            rows.extend(zip(*[b.column(i).to_pylist() for i in range(b.num_columns)]))
    # projection drops the ROLLNAME corruption, so every row parses; the
    # typed three-valued OR then decides survival exactly per the law
    assert len(rows) == sum(
        1 for i in range(1000) if i % 7 == 3 or (i % 13 != 0 and i % 500 < 40)
    )
    assert all(t == "TAB3" or (p is not None and p < 40) for t, p, _ in rows)

    with pytest.raises(ValueError, match="unknown column"):
        SapRfcStreamReader(
            {"mockrows": "1000", "pushdown": "ROLLNAME EQ 'ROLL1'"}, want
        )


# --- OPTIONS 72-char wire-line discipline (round 15) ------------------------


def test_options_wire_lines_width_and_reconcat_laws():
    """The r15 line discipline, as direct laws over wrap_options_lines:
    every emitted wire line fits the BAPI's char72 TEXT field, lines break
    only at token boundaries (re-concatenating with single spaces is
    IDENTICAL to the AND-joined clause text — the idempotence a server
    that drops trailing blanks requires), and the seam-identity law
    `" ".join(_wire_tokens(c)) == c` holds for every renderer shape."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        OPTIONS_LINE_WIDTH,
        _wire_tokens,
        wrap_options_lines,
    )

    long_in = (
        "FIELDNAME IN ("
        + ", ".join(f"'FLD_{i:05d}'" for i in range(100, 2400, 150))
        + ")"
    )
    shapes = [
        "TABNAME EQ 'TAB3'",
        "POSITION LT '0250'",
        "ROLLNAME NE 'ROLL7'",
        "FIELDNAME LIKE 'FLD_01%'",
        "ROLLNAME LIKE '%L1%'",
        "ROLLNAME IN ('ROLL2', 'ROLL5')",
        "TABNAME EQ 'O''Brien AND sons'",  # quoted AND + escaped quote
        "( TABNAME EQ 'TAB3' OR POSITION LT '0040' )",
        "TABNAME EQ ' padded  interior '",  # spaces survive inside quotes
        long_in,
    ]
    assert len(long_in) > OPTIONS_LINE_WIDTH  # the wrap actually engages
    for clause in shapes:
        assert " ".join(_wire_tokens(clause)) == clause, clause
    # single clauses, pairs, and the whole conjunction
    combos = [[c] for c in shapes] + [shapes[:2], shapes, [long_in, shapes[7]]]
    for clauses in combos:
        lines = wrap_options_lines(clauses)
        assert all(len(line) <= OPTIONS_LINE_WIDTH for line in lines), clauses
        assert " ".join(lines) == " AND ".join(clauses), clauses
    # multi-line case really happens
    assert len(wrap_options_lines([long_in])) >= 2


def test_options_wire_line_oversized_token_drops_clause():
    """A clause containing one token wider than 72 chars (a huge quoted
    literal) has no legal wire form: it must DROP from the wire (widen-only
    ride, typed re-verify applies it exactly) while its conjunct
    neighbors still render — and an OR group with one oversized disjunct
    drops whole (all-or-nothing)."""
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        wrap_options_lines,
    )

    huge = "TABNAME EQ '" + "x" * 80 + "'"
    assert wrap_options_lines([huge]) == []
    assert wrap_options_lines([huge, "ROLLNAME NE 'ROLL7'"]) == [
        "ROLLNAME NE 'ROLL7'"
    ]
    group = "( TABNAME EQ '" + "x" * 80 + "' OR ROLLNAME EQ 'ROLL1' )"
    assert wrap_options_lines([group]) == []


def test_mock_enforces_options_line_width():
    """The server model must REJECT a wire line wider than its char72
    TEXT field — the lenient-mock class (r12/r13 advice) that would
    otherwise hide the live-server failure the client wrap prevents."""
    import pytest

    t = MockRfcTransport(n_rows=50)
    too_long = "TABNAME EQ '" + "y" * 70 + "'"
    assert len(too_long) > 72
    with pytest.raises(ValueError, match="exceeds 72"):
        t.call("DD03L", "`", 0, 10, options=[too_long])
    with pytest.raises(ValueError, match="exceeds 72"):
        t.row_count("DD03L", options=[too_long])


def test_wrapped_long_in_scan_end_to_end():
    """A pushed IN list long enough to span 3+ wire lines returns exactly
    the unpushed-scan-plus-predicate rows, and every wire line the
    transport sees fits 72 chars (recorded through a spying transport)."""
    from pyspark.sql.datasource import In

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
        _eval_filter,
    )

    fields = list(MockRfcTransport.FIELDS)
    names = [f.name for f in fields]
    vals = tuple(f"FLD_{i:05d}" for i in range(100, 2400, 150))
    pushed = SapRfcReader({"mockrows": "2500", "pagesize": "300"}, fields)
    assert list(pushed.pushFilters([In(("FIELDNAME",), vals)])) == []
    lines = pushed.wire_options()
    assert len(lines) >= 3 and all(len(l) <= 72 for l in lines)

    def rows_of(reader):
        out = []
        for p in reader.partitions():
            for b in reader.read(p):
                out.extend(
                    zip(*[b.column(i).to_pylist() for i in range(b.num_columns)])
                )
        return sorted(out, key=lambda r: tuple(str(x) for x in r))

    plain = SapRfcReader({"mockrows": "2500", "pagesize": "300"}, fields)
    expect = [
        row
        for row in rows_of(plain)
        if all(
            _eval_filter(f, dict(zip(names, row[: len(names)]))) is True
            for f in pushed.accepted
        )
    ]
    got = rows_of(pushed)
    assert got == expect
    # the generator law: FLD_%05d == i, minus corrupt (i%37==0) rows
    assert len(got) == sum(1 for i in range(100, 2400, 150) if i % 37 != 0)


def test_row_width_guard_tab512():
    """The TAB512 row-width guard (round 15): a projection whose declared
    output widths + delimiters exceed the BAPI's char512 DATA line fails
    LOUD at plan time with the narrow-your-projection message (live SAP
    raises DATA_BUFFER_EXCEEDED mid-job); a fitting projection of the same
    table plans fine; unknown (0) widths skip the client check; and the
    mock models the server-side overflow independently."""
    import pytest

    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import RfcField
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
        check_row_width,
    )

    wide = [RfcField(f"W{j}", "C", length=120) for j in range(5)]  # 604 > 512
    with pytest.raises(ValueError, match="narrow the projection"):
        SapRfcReader({"mockrows": "10"}, wide)
    # boundary: exactly 512 passes, 513 fails (4*127 + 3 = 511; +1 each)
    fits = [RfcField(f"F{j}", "C", length=127) for j in range(4)]
    check_row_width(fits, "`")  # 511 <= 512: ok
    with pytest.raises(ValueError, match="DATA buffer"):
        check_row_width([RfcField("A", "C", length=510), RfcField("B", "C", length=2)], "`")
    # unknown width disables the client-side check (live server decides)
    check_row_width([RfcField("A", "C", length=0), RfcField("B", "C", length=600)], "`")

    # server model: a wide-FIELDS mock raises DATA_BUFFER_EXCEEDED on the
    # unprojected call and serves fine once the projection narrows
    class WideMock(MockRfcTransport):
        FIELDS = (
            RfcField("TABNAME", "C", length=300),
            RfcField("ROLLNAME", "C", length=300),
        )

        def _vals(self, i):
            return [f"TAB{i % 7}", f"ROLL{i % 11}"]

        def _row(self, i, keep=None):  # no planted corruption in this mock
            vals = self._vals(i)
            if keep is not None:
                vals = [vals[j] for j in keep]
            return "`".join(vals)

    t = WideMock(n_rows=5)
    with pytest.raises(ValueError, match="DATA_BUFFER_EXCEEDED"):
        t.call("DD03L", "`", 0, 10)
    res = t.call("DD03L", "`", 0, 10, fields=["TABNAME"])
    assert len(res["DATA"]) == 5
    # NO_DATA metadata probe (r15 review): FIELDS discovery must work on a
    # too-wide table — it is HOW a client learns the widths it needs to
    # narrow the projection; the DSv2 _fields()/read_rfc_table probes use
    # it, making the plan-time guard reachable through the public source
    meta = t.call("DD03L", "`", 0, 1, no_data=True)
    assert [f["FIELDNAME"] for f in meta["FIELDS"]] == ["TABNAME", "ROLLNAME"]
    assert meta["DATA"] == []


def test_line_wrap_query_plan_lock_and_wire_width(spark):
    """The saprfc_pushdown_line_wrap oracle query end-to-end through
    Spark: its 16-value isin is fully consumed by the source (no residual
    Filter), and a reader fed the same filters + spec emits only <=72-char
    wire lines with the IN list spanning several of them."""
    from pyspark.sql.datasource import In

    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.ingest import (
        _LINE_WRAP_IDS,
    )
    from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
        SapRfcReader,
    )

    vals = [f"FLD_{i:05d}" for i in _LINE_WRAP_IDS]
    df = _df(spark, pushdown="POSITION LT '250' OR KEYFLAG EQ 'X'").filter(
        F.col("FIELDNAME").isin(vals)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan saprfc" in plan and "Filter (" not in plan
    assert df.count() == sum(
        1
        for i in _LINE_WRAP_IDS
        if i % 37 != 0 and ((i % 13 != 0 and i % 500 < 250) or i % 5 == 0)
    )
    r = SapRfcReader(
        {"mockrows": "2500", "pushdown": "POSITION LT '250' OR KEYFLAG EQ 'X'"},
        list(MockRfcTransport.FIELDS),
    )
    assert list(r.pushFilters([In(("FIELDNAME",), tuple(vals))])) == []
    lines = r.wire_options()
    assert len(lines) >= 3 and all(len(l) <= 72 for l in lines)
    assert any("OR" in l for l in lines)  # the group rides the same WHERE


def test_saprfc_import_leaves_pandas_unloaded():
    """Stream-source runners and planner workers import the source module in
    a fresh Python process; pandas must not ride along with it (it costs
    about 0.12 CPU·s per process and only the batch fetch needs it)."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2\n"
        "print('pandas' in sys.modules)\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    assert proc.stdout.strip() == "False"


def test_register_tolerates_only_conf_refusal(spark, caplog):
    """register() logs and goes on when the session refuses to modify the
    pushdown conf, and lets any other error propagate."""
    import logging

    import pytest
    from pyspark.errors import PySparkException

    # a real refusal, as a session raises it for a static conf
    with pytest.raises(PySparkException) as info:
        spark.conf.set("spark.sql.warehouse.dir", "/nowhere")
    refusal = info.value
    assert refusal.getCondition() == "CANNOT_MODIFY_STATIC_CONFIG"

    class _Conf:
        def __init__(self, err):
            self.err = err

        def set(self, key, value):
            raise self.err

    class _Session:
        def __init__(self, err):
            self.dataSource = spark.dataSource
            self.conf = _Conf(err)

    with caplog.at_level(logging.WARNING):
        register(_Session(refusal))
    assert "spark.sql.python.filterPushdown.enabled" in caplog.text
    assert "CANNOT_MODIFY_STATIC_CONFIG" in caplog.text

    with pytest.raises(RuntimeError, match="gateway down"):
        register(_Session(RuntimeError("gateway down")))
