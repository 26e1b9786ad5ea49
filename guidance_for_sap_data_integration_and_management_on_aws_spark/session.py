"""SparkSession factory tuned for this engine.

Designed for a large cluster (100 TB-class inputs) but testable on
``local[N]``:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing) so the
  same plans survive a 100x scale-up without hand-retuning.
* UTC session timezone so results agree with the DuckDB oracle.
* Arrow enabled for the (rare) Pandas-UDF paths.
* ``spark.sql.shuffle.partitions`` defaults low for local test scale; AQE
  coalescing makes the exact number mostly irrelevant, and on a real cluster
  the deployment sets it to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "tune"]


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 16g (see
    below), capped at 3/4 of physical RAM so the heap the JVM may grow to
    is always backed by memory, with room left for Metaspace, the code
    cache, off-heap buffers and the Python workers."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb * 3 // 4)}m"


_LOCAL_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE coalesces down; start at a sane local number.  Cluster deployments
    # override via spark-defaults.
    "spark.sql.shuffle.partitions": "32",
    # 128 MiB input splits: the right granularity for TB-scale parquet scans
    # and harmless at test scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: small dims (region/nation/supplier at any SF that
    # fits) should broadcast; AQE also converts to broadcast at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Filter pushdown into Python data sources (the saprfc DSv2 connector).
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.ui.enabled": "false",
    # Heap sized to the local harness: local[32] runs 32 concurrent tasks in
    # ONE JVM, so executor-memory rules of thumb (~0.5g/core + cached
    # tables) apply to the driver heap here.  8g was measurably undersized
    # for a full bench pass — ~200 queries of accumulated memory-sink rows,
    # bounded token/pair caches and localCheckpoint blocks pushed the old
    # heap into GC thrash that inflated late-run streaming queries 3-4x
    # (r7 measurement: stream-stream full join 15.8s at 8g vs 3.0s at 16g,
    # identical plans).  28g was TRIED when the registry crossed 220 queries
    # and did not help: mid-bench one-offs of 4-9x on heavy iterative
    # queries (graph_pagerank 9.7s in-run vs 1.7s standalone, identical
    # plans) appear at 16g AND 28g with full-run totals flapping +-10%
    # between identical-code runs — box-level noise, not heap sizing, so
    # the measured 16g stands, capped below physical RAM on smaller hosts
    # (default_driver_memory).  A cluster deployment sets executor memory
    # instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
    # Generated-code cache (Spark's default: 100 classes).  One sf0.001 pass
    # over the 256 registered queries compiles 2,732 classes, and the 12
    # lake_sql benchmark queries alone need more than 100, so at the default
    # a long-lived session recompiles query shapes it has already run.  Two
    # passes over the registry at sf0.001 in one session (local[4]): at 100
    # entries the passes compiled 3,571 and 3,381 classes, at 4096 they
    # compiled 2,732 and 73, with Metaspace at 273 MB vs 249 MB after the
    # second pass.  4096 holds the measured working set with headroom.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # JIT code-cache headroom for the local harness.  A full bench pass
    # compiles hundreds of queries' whole-stage-codegen classes in one JVM;
    # at the JDK-17 default (240 MB, UseCodeCacheFlushing=true) a filling
    # cache flushes cold compiled methods and stalls the compile queue.
    # Separately measured (r9): a heavy fused stage sporadically runs 4-10x
    # CPU when its hot generated method sits in the C2 queue behind
    # thousands of cold-start compilations while 32 saturated cores burn
    # tier-3 code (identical plans, 2166 vs 200-500 CPU·s; every generated
    # method <1500 bytecodes, so not a huge-method bailout).  More cache
    # can't eliminate queue luck but removes the flush-induced variant.
    # Driver-JVM-only; cluster deployments size executor JVMs themselves.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
}


def tune(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply this engine's configuration to an existing builder."""
    for k, v in _LOCAL_DEFAULTS.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "sap-guidance-spark", master: str | None = None) -> SparkSession:
    """Return (or create) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    return tune(builder).getOrCreate()
