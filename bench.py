"""Per-query cost of the registered queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 fixture lake of TESTDATA.md) on local[$SPARK_GRAFT_CPUS].

    python bench.py                          # every registered query
    python bench.py NAME [NAME ...]          # only the named queries
    python bench.py --check                  # gate HEADLINE vs bench_baseline.json
    python bench.py --baseline-add-new       # add rows for new queries
    python bench.py --baseline-reprice NAME  # replace rows whose semantics changed

One pass over the selected queries at sf0.001 absorbs JVM, codegen and
Python-worker start-up; the memo caches are then cleared of its entries, so
every memoized build (token sets, pair frames, edge lists, ...) is charged to
the first timed query that consumes it.  The timing order is HEADLINE, then
registry order, so that attribution is deterministic.  Each query is timed
once, forced end to end by a noop write (unlike ``count()``, it lets Spark
prune no column), recording wall seconds, the CPU seconds of the whole
process tree (this process, the Spark JVM and its Python workers) and the
number of classes Janino compiled for it (``queries_codegen``; a query whose
generated code is still in Spark's codegen cache compiles none).

The full result goes to bench_out.json beside this script.  The last stdout
line is one JSON object of at most 2,000 chars holding ``metric``/``value``
(headline wall total)/``unit``/``sf`` and the per-query ``queries`` (wall)
and ``queries_cpu`` maps of the headline (or named) queries;
``queries_codegen`` is in bench_out.json only.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# Headline set: one per operator family (relational agg, join incl. as-of,
# window, ingest parse, dedup, ANN, text, multimodal, UDF surface).
HEADLINE = [
    "saprfc_scan_typed",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q18_large_orders",
    "agg_rollup",
    "join_inner",
    "join_asof",
    "window_topk_per_group",
    "rfc_ingest_invariant",
    "dedup_exact",
    "pipeline_curation",
    "dedup_simhash_buckets",
    "text_word_count",
    "ann_bruteforce_topk",
    "mm_decode",
    "udf_pandas_l2norm",
    "stream_tumbling_agg",
]

# query -> scale-factor directory NAME, resolved beside $SPARK_GRAFT_SF_DIR.
# Only the genuinely quadratic exact oracles run reduced: their output volume
# is quadratic in the fixture, whose corpus is a dense near-dup graph (57% of
# all doc pairs reach Jaccard 0.6 at sf0.1).
REDUCED_SF = {
    # exact all-pairs Jaccard twin: ~7M qualifying pairs at sf0.1
    "dedup_jaccard_pairs": "sf0.01",
    # recall anchor = the exact twin filtered at 0.7
    "dedup_minhash_recall": "sf0.01",
    # the recall-mass certification, which consumes the exact twin too
    "dedup_minhash_lsh": "sf0.01",
    # components over the exact twin's pair set
    "dedup_connected_components": "sf0.01",
    # ~91*256 distinct synthetic images, so equal aHashes form large
    # clusters: ~1.1M qualifying pairs at sf0.1
    "mm_ahash_neardup": "sf0.01",
}

# headline time must stay within this factor of bench_baseline.json (plus a
# small absolute slack for sub-second noise) under --check
CHECK_FACTOR = 1.5
CHECK_SLACK_SEC = 0.3

COMPACT_MAX_CHARS = 2000


def baseline_add_new() -> None:
    """Merge rows for NEW queries from bench_out.json into
    bench_baseline.json.  Existing rows are never touched.  Refuses a
    bench_out produced at a different scale factor than the baseline's, and
    skips rows for queries that errored in the run."""
    with open(os.path.join(HERE, "bench_out.json")) as fh:
        out = json.load(fh)
    with open(os.path.join(HERE, "bench_baseline.json")) as fh:
        base = json.load(fh)
    if out.get("sf") != base.get("sf"):
        sys.exit(
            f"refusing --baseline-add-new: bench_out.json is sf={out.get('sf')} "
            f"but the frozen baseline is sf={base.get('sf')} — re-run bench.py "
            f"at the baseline SF first"
        )
    added = []
    for name, t in out["queries"].items():
        if name not in base["queries"] and name not in out.get("errors", {}):
            base["queries"][name] = t
            if name in out.get("queries_norm", {}):
                base.setdefault("queries_norm", {})[name] = out["queries_norm"][name]
            added.append(name)
    base["n_queries"] = len(base["queries"])
    # `value`/`value_norm` (the headline gate) stay frozen because the
    # HEADLINE set itself is frozen; only the all-rows totals follow the map
    base["all_queries_total"] = round(sum(base["queries"].values()), 3)
    if "queries_norm" in base:
        base["all_queries_total_norm"] = round(
            sum(base["queries_norm"].values()), 3
        )
    with open(os.path.join(HERE, "bench_baseline.json"), "w") as fh:
        json.dump(base, fh, indent=1)
        fh.write("\n")
    print(f"baseline: added {len(added)} new rows {added}; "
          f"existing rows untouched (freeze policy)", file=sys.stderr)


def baseline_reprice(names: list[str]) -> None:
    """Replace the frozen rows of queries whose SEMANTICS changed with
    fresh readings from bench_out.json, keeping every displaced value in a
    `repriced` audit map.  Not a perf refresh: comparing a converted query
    against its pre-conversion row would measure two different programs."""
    with open(os.path.join(HERE, "bench_out.json")) as fh:
        out = json.load(fh)
    with open(os.path.join(HERE, "bench_baseline.json")) as fh:
        base = json.load(fh)
    if out.get("sf") != base.get("sf"):
        sys.exit(
            f"refusing --baseline-reprice: bench_out.json is sf={out.get('sf')} "
            f"but the frozen baseline is sf={base.get('sf')}"
        )
    audit = base.setdefault("repriced", {})
    for name in names:
        if name not in base["queries"]:
            sys.exit(f"--baseline-reprice: {name} has no baseline row (use "
                     f"--baseline-add-new for new queries)")
        if name not in out["queries"]:
            sys.exit(f"--baseline-reprice: {name} missing from bench_out.json")
        audit[name] = {
            "old_sec": base["queries"][name],
            "old_norm": base.get("queries_norm", {}).get(name),
        }
        base["queries"][name] = out["queries"][name]
        if name in out.get("queries_norm", {}):
            base.setdefault("queries_norm", {})[name] = out["queries_norm"][name]
    base["all_queries_total"] = round(sum(base["queries"].values()), 3)
    if "queries_norm" in base:
        base["all_queries_total_norm"] = round(
            sum(base["queries_norm"].values()), 3
        )
    with open(os.path.join(HERE, "bench_baseline.json"), "w") as fh:
        json.dump(base, fh, indent=1)
        fh.write("\n")
    print(f"baseline: repriced {names} (old values kept in 'repriced' audit "
          f"map); all other rows untouched", file=sys.stderr)


def exited_cpu_s(before: dict, after: dict) -> float:
    """CPU·s that ``tree_cpu_s(after) - tree_cpu_s(before)`` wrongly takes
    off for processes of the ``before`` tree that are gone ``after`` (both
    ``proctree.tree`` maps).  An exited child normally moves its CPU·s into
    its parent's cutime + cstime, so it is counted once.  The pyspark daemon
    ignores SIGCHLD, so the kernel reaps its workers without doing so: a
    worker stopped after a minute idle takes its lifetime CPU·s with it
    (per-query CPU·s read down to -178 s).  Such a child is given back."""
    def children(st: list[str]) -> int:
        return int(st[13]) + int(st[14])

    lost = 0
    for p, st in before.items():
        if p in after:
            continue
        q = int(st[1])  # fields after the name: ppid is 1, utime..cstime 11..14
        absorbed = children(after[q]) - children(before[q]) if q in after and q in before else 0
        total = sum(int(x) for x in st[11:15])
        if absorbed < total:
            lost += total
    return lost / os.sysconf("SC_CLK_TCK")


def check(wall: dict[str, float]) -> None:
    """Exit 1 when a headline row exceeds CHECK_FACTOR x its baseline row
    plus CHECK_SLACK_SEC."""
    with open(os.path.join(HERE, "bench_baseline.json")) as fh:
        base = json.load(fh)["queries"]
    bad = [
        f"{name}: {wall[name]:.2f}s vs baseline {base[name]:.2f}s "
        f"(>{CHECK_FACTOR}x + {CHECK_SLACK_SEC}s)"
        for name in HEADLINE
        if name in base
        and name in wall
        and wall[name] > CHECK_FACTOR * base[name] + CHECK_SLACK_SEC
    ]
    # chatter goes to stderr so the JSON stays stdout's last line
    if bad:
        print("PERF REGRESSION vs bench_baseline.json:\n" + "\n".join(bad),
              file=sys.stderr)
        sys.exit(1)
    print(f"perf check OK: {len([n for n in HEADLINE if n in wall])} "
          f"headline queries within {CHECK_FACTOR}x of baseline",
          file=sys.stderr)


def main(names: list[str], gate: bool = False) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    data_root = os.path.dirname(sf_dir.rstrip("/")) or "."
    # fall back to the bench SF when the sibling dir doesn't exist
    reduced = {
        name: os.path.join(data_root, leaf)
        for name, leaf in REDUCED_SF.items()
        if os.path.isdir(os.path.join(data_root, leaf))
    }
    warm_sf = os.path.join(data_root, "sf0.001")

    import __spark_entry__ as entrymod
    from guidance_for_sap_data_integration_and_management_on_aws_spark.caches import (
        clear_caches,
    )
    from guidance_for_sap_data_integration_and_management_on_aws_spark.session import get_spark
    from guidance_for_sap_data_integration_and_management_on_aws_spark.streaming.replay import (
        build_replay,
        sweep_scratch,
    )
    from perfbench.proctree import tree, tree_cpu_s

    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries {unknown}")
    order = names or list(dict.fromkeys([n for n in HEADLINE if n in qs] + list(qs)))

    sweep_scratch()  # drained checkpoints and replay fixtures of earlier runs
    spark = get_spark("bench")

    def drop_memory_sinks() -> None:
        """The memory sink is a test harness; left in place, each drained
        stream's collected rows stay referenced by its temp view for the
        rest of the run and feed old-gen GC pressure late in it."""
        for t in spark.catalog.listTables():
            if t.name.startswith("mem_"):
                spark.catalog.dropTempView(t.name)

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        """Classes Janino has compiled in this JVM so far."""
        return codegen.METRIC_COMPILATION_TIME().getCount()

    def run(name: str, where: str) -> None:
        qs[name](spark, where).write.mode("overwrite").format("noop").save()

    # replay fixtures (chunked parquet copies of events) are test-fixture
    # prep, not query execution; build_replay memoizes them per process
    for variant in ("ordered", "dups", "late", "bad"):
        build_replay(spark, sf_dir, variant)

    # Warm in reverse timing order so the first timed query is warmed last:
    # saprfc_scan_typed's Python-datasource workers leave the reuse pool
    # after ~1 min idle (measured 0.43-0.52 s right after a warm scan vs
    # 0.89-1.37 s ten queries later).
    warm_errors: dict[str, str] = {}
    if os.path.isdir(warm_sf):
        for name in reversed(order):
            try:
                run(name, warm_sf)
            except Exception as e:  # the timed run reports it again
                warm_errors[name] = f"{type(e).__name__}: {e}"[:200]
            drop_memory_sinks()
        clear_caches(warm_sf)
    for name, err in warm_errors.items():
        print(f"[bench] warm pass failed: {name}: {err}", file=sys.stderr)

    wall: dict[str, float] = {}
    cpu: dict[str, float] = {}
    compiled: dict[str, int] = {}
    errors: dict[str, str] = {}
    pid = os.getpid()
    for name in order:
        k0 = compiles()
        procs0, c0, t0 = tree(pid), tree_cpu_s(pid), time.perf_counter()
        try:
            run(name, reduced.get(name, sf_dir))
            wall[name] = round(time.perf_counter() - t0, 3)
            c1 = tree_cpu_s(pid)
            cpu[name] = round(c1 - c0 + exited_cpu_s(procs0, tree(pid)), 2)
            compiled[name] = compiles() - k0
        except Exception as e:  # keep the result line intact; surface the error
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        drop_memory_sinks()  # outside the timer: listTables alone takes 0.1-0.3 s

    headline = [n for n in HEADLINE if n in wall]
    out = {
        "metric": "headline_suite_total",
        "value": round(sum(wall[n] for n in headline), 3),
        "unit": "sec",
        "sf": sf,
        "queries": wall,
        "queries_cpu": cpu,
        "queries_codegen": compiled,
        "value_cpu": round(sum(cpu[n] for n in headline), 2),
        "all_queries_total": round(sum(wall.values()), 3),
        "all_queries_cpu_total": round(sum(cpu.values()), 2),
        "n_queries": len(wall),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "reduced_sf": {k: v for k, v in reduced.items() if k in wall},
        "errors": errors,
        "warm_errors": warm_errors,
    }
    with open(os.path.join(HERE, "bench_out.json"), "w") as fh:
        fh.write(json.dumps(out) + "\n")

    shown = [n for n in (names or HEADLINE) if n in wall]
    compact = {k: out[k] for k in (
        "metric", "value", "unit", "sf", "value_cpu", "all_queries_total",
        "all_queries_cpu_total", "n_queries",
    )}
    compact.update(n_errors=len(errors), full_results="bench_out.json")
    while True:
        compact["queries"] = {n: wall[n] for n in shown}
        compact["queries_cpu"] = {n: cpu[n] for n in shown}
        payload = json.dumps(compact)
        if len(payload) <= COMPACT_MAX_CHARS:
            break
        shown.pop()
    # stop Spark first so no JVM shutdown noise lands after the result line
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    os.write(1, (payload + "\n").encode())
    if gate:
        check(wall)


if __name__ == "__main__":
    args = sys.argv[1:]
    if "--baseline-add-new" in args:
        baseline_add_new()
    elif "--baseline-reprice" in args:
        names = args[args.index("--baseline-reprice") + 1 :]
        if not names:
            sys.exit("--baseline-reprice requires explicit query names")
        baseline_reprice(names)
    elif [a for a in args if a.startswith("--") and a != "--check"]:
        sys.exit(f"unknown options {args}; see the module docstring")
    else:
        main([a for a in args if a != "--check"], gate="--check" in args)
