"""Lake sinks and scans (SURVEY §2.1 S4-S8).

The reference writes one S3 object per page under
``glue/result/<fmt>/<table>/<run-ts>/`` and malformed rows under a parallel
``result-err`` prefix (pyrfc_read_table.py:45-50,180-221).  Here the same
layout is produced by distributed writers: each task writes one object per
channel for its partition, which ``read_rfc_table`` plans as one contiguous,
ordered run of pages, so an object holds whole pages in page order (the
packing Spark's file scan applies to small files, instead of one small object
per page).  The error channel is a second filtered write over the same
persisted parse.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .rfc import ParsedRfc

RESULT_PREFIX = "result"  # reference: 'glue/result', pyrfc_read_table.py:47-48
ERROR_PREFIX = "result-err"  # reference: 'glue/result-err', :49-50


def run_timestamp(now: datetime | None = None) -> str:
    """Run-partition key, reference format '%Y-%m-%d-%H-%M-%S' (:45-46)."""
    now = now or datetime.now(timezone.utc)
    return now.strftime("%Y-%m-%d-%H-%M-%S")


def layout_path(base: str, prefix: str, fmt: str, table: str, run_ts: str) -> str:
    """S7 run-partitioned layout: <base>/<prefix>/<fmt>/<table>/<run_ts>/."""
    return f"{base}/{prefix}/{fmt}/{table}/{run_ts}"


@dataclass(frozen=True)
class IngestReport:
    data_path: str
    error_path: str
    valid_count: int
    err_count: int

    @property
    def total_count(self) -> int:
        return self.valid_count + self.err_count


def _apply_reference_naming(path: str, table: str, fmt: str) -> list[str]:
    """Rename part files to the reference's ``<table><cumulativeRowCount>.<fmt>``
    object names (pyrfc_read_table.py:120-122: ``tableName +
    str(totalRowCount) + '.' + fileFormat`` where totalRowCount accumulates
    across pages).

    Distributed writers name by task id; the reference's names encode the
    serial running total, so this is a driver-side METADATA pass after the
    write: part files in name order (= partition order, and each partition
    is a contiguous run of pages) get the running row total from parquet
    footers / JSON-line counts — no data moves.  One object stands for one
    task's run of pages, so the names are the reference's cumulative counts
    at the slice boundaries rather than at every page.
    On an append into a run path that was renamed before, the total CONTINUES
    from the largest existing cumulative count (the reference's counter also
    runs on across pages), so a re-run can never clobber earlier objects.
    Returns the new file names in order."""
    import os
    import re

    import pyarrow.parquet as pq

    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and not f.endswith(".crc")
    )
    done = re.compile(rf"^{re.escape(table)}(\d+)\.{re.escape(fmt)}$")
    total = max(
        (int(m.group(1)) for f in os.listdir(path) if (m := done.match(f))), default=0
    )
    named: list[str] = []
    for f in parts:
        full = os.path.join(path, f)
        if fmt == "parquet":
            n_rows = pq.ParquetFile(full).metadata.num_rows
        else:
            with open(full, "rb") as fh:
                n_rows = sum(1 for _ in fh)
        crc = os.path.join(path, f".{f}.crc")
        if os.path.exists(crc):  # Hadoop local-FS checksum would go stale
            os.remove(crc)
        if n_rows == 0:
            # A zero-row part file (Spark writes one when a partition of the
            # frame is empty) would leave `total` unchanged and its computed
            # name would collide with the previous object (or, on append,
            # with the prior run's largest object) — os.replace would then
            # silently clobber real data.  The reference never emits an
            # object for an empty page either (it writes per fetched page);
            # drop the file instead of naming it.
            os.remove(full)
            continue
        total += n_rows
        new = f"{table}{total}.{fmt}"
        dest = os.path.join(path, new)
        assert not os.path.exists(dest), f"cumulative-name collision: {new}"
        os.replace(full, dest)
        named.append(new)
    return named


def write_dual_sink(
    parsed: ParsedRfc,
    base: str,
    table: str,
    *,
    fmt: str = "parquet",
    run_ts: str | None = None,
    reference_naming: bool = False,
) -> IngestReport:
    """S4/S5 data sink + S6 dead-letter sink in the reference's S7 layout.

    ``fmt`` is 'parquet' or 'json' (JSON-lines — what pandas
    ``orient='records', lines=True`` produced in the reference, :180-182).
    The error channel keeps the *original* WA line, like the reference's
    schema-less error file (:186,197), plus the observed arity for triage.
    ``reference_naming=True`` additionally renames output objects to the
    reference's ``<table><cumulativeRowCount>.<fmt>`` scheme.
    """
    if fmt not in ("parquet", "json"):
        raise ValueError(f"fmt must be 'parquet' or 'json', got {fmt!r}")
    ts = run_ts or run_timestamp()
    data_path = layout_path(base, RESULT_PREFIX, fmt, table, ts)
    err_path = layout_path(base, ERROR_PREFIX, fmt, table, ts)

    # The valid side is counted via observe() as a side effect of its own
    # write; the error side is counted, then written only if non-empty.  The
    # counts are the distributed twin of the reference's per-page counters
    # (pyrfc_read_table.py:119-122,151-153).  Both channels read one
    # persisted parse, so each source page is fetched once; a parse the
    # caller already persisted stays persisted.
    obs = Observation()
    valid = parsed.valid.observe(obs, F.count(F.lit(1)).alias("n_valid"))
    owned = not parsed.tagged.is_cached
    if owned:
        parsed.tagged.persist()
    try:
        valid.write.mode("append").format(fmt).save(data_path)
        if reference_naming:
            _apply_reference_naming(data_path, table, fmt)
        n_err = parsed.errors.count()
        if n_err:  # reference only writes an error object when err rows exist (:219-221)
            parsed.errors.write.mode("append").format(fmt).save(err_path)
            if reference_naming:
                _apply_reference_naming(err_path, table, fmt)
        return IngestReport(data_path, err_path, int(obs.get["n_valid"]), n_err)
    finally:
        if owned:
            parsed.tagged.unpersist()


def read_back(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """S8: read the lake output back (schema round-trip check)."""
    return spark.read.format(fmt).load(path)


def compact_parquet_dir(
    spark: SparkSession, path: str, target_file_bytes: int = 128 << 20
) -> tuple[int, int]:
    """Small-files COMPACTION (lake maintenance): rewrite a parquet
    directory so files approach ``target_file_bytes``.

    The target file count comes from FILE METADATA only (sum of on-disk
    sizes / target) — no data is read to plan the rewrite, so planning is
    O(#files) at any corpus size.  The rewrite itself is one
    ``repartition(n)`` pass (a round-robin shuffle, each writer emitting
    one right-sized file) into a sibling directory, then an atomic-ish
    directory swap.  Returns (files_before, files_after).

    At 100 TB this runs per table-partition (compact only partitions whose
    small-file count crosses a threshold, newest partitions first) — the
    maintenance loop behind every streaming-ingest lake; production engines
    ship it as OPTIMIZE/rewrite_data_files, and this is that operator's
    dataflow on plain parquet.  No-ops (returns early) when the directory
    already meets the target.
    """
    import glob
    import math
    import os
    import shutil

    files = [
        f
        for f in glob.glob(os.path.join(path, "*.parquet"))
        + glob.glob(os.path.join(path, "part-*"))
        if os.path.isfile(f) and not f.endswith(".crc")
    ]
    files = sorted(set(files))
    n_before = len(files)
    total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if n_target >= n_before:
        return n_before, n_before
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    df.repartition(n_target).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    n_after = len(
        [f for f in glob.glob(os.path.join(path, "part-*")) if not f.endswith(".crc")]
    )
    return n_before, n_after
