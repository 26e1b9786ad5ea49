"""Registry invariants the driver contract depends on: unique names, a
callable builder and a DuckDB oracle for every registered query.
"""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_registry_shape():
    reg = entrymod._registry()
    names = list(reg)
    assert len(names) == len(set(names))
    # since r9 every registry query carries an oracle — the whole registry
    # is hash-checked
    rows_only = [n for n in names if reg[n].oracle is None]
    assert rows_only == [], rows_only
    # every builder is callable and every oracle is non-empty SQL text
    for n, q in reg.items():
        assert callable(q.builder), n
        assert q.oracle is None or q.oracle.strip().upper().startswith(("SELECT", "WITH")), n


def test_oracle_sql_matches_queries():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    rows_only = set(qs) - set(osql)
    # r9 retired the last three rows-only entries (grouped-tolerance A5,
    # recall-mass LSH certification, certified k-means training): every
    # registry query now carries a hash-match oracle
    assert rows_only == set(), rows_only


def test_no_rdd_access_in_package():
    """r02 verdict: the non-test package must never touch the RDD API — a
    `.rdd` probe forces plan-to-RDD conversion (and the engine's contract is
    DataFrame-declarative throughout)."""
    import pathlib

    import guidance_for_sap_data_integration_and_management_on_aws_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if ".rdd" in p.read_text()
    ]
    assert not offenders, offenders


def test_no_driver_materialization_in_streaming_sources():
    """r03 verdict item 4: the streaming package must not materialize source
    data on the driver — the replay builder chunks the events fixture with
    Spark writes (range-repartition + offset-stitched global positions), so
    ``toPandas`` must not appear anywhere under ``streaming/``."""
    import pathlib

    import guidance_for_sap_data_integration_and_management_on_aws_spark as pkg

    streaming = pathlib.Path(pkg.__file__).parent / "streaming"
    offenders = [
        str(p.name) for p in streaming.rglob("*.py") if "toPandas" in p.read_text()
    ]
    assert not offenders, offenders
