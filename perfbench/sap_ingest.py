"""sap_ingest: repeated extraction runs against a growing SAP table.

The table is served by the seeded SAP stand-in in ``sapserver/pyrfc.py``
through the package's live transport (``sources.rfc.PyRfcTransport``).  It
starts at INITIAL_ROWS and grows by GROWTH_ROWS before every later run.
Each run is three ops:

* ``extract`` -- a full paged extract through ``read_rfc_table``, then
  ``parse_rfc_frame``, then ``write_dual_sink`` (parquet plus the error
  prefix).  Checked: valid + error rows equal the table size, and error
  rows equal the planted malformed rows.
* ``drain``   -- an incremental ``Trigger.AvailableNow`` drain through the
  ``saprfc`` stream source into a parquet sink, on one checkpoint kept
  across runs.  Checked: the rows landed so far equal the table size.
* ``merge``   -- ``operators.ingest.merge_upsert`` of the run's drained
  valid rows into the landed table, written as its next version.
  Checked: keys are unique, the row count equals the distinct valid keys
  so far, and every restated key carries its newest value.

Why this workload: it runs through the sources, the Python/Arrow boundary,
the lake sink, the streaming commit path and the merge shuffle, none of
which lake_sql touches; it is the write-heavy use beside lake_sql's reads.
"""

from __future__ import annotations

import os

from perfbench import gen

TABLE = "DD03L"
PAGE_ROWS = 1_500
INITIAL_ROWS = 12_000
GROWTH_ROWS = 1_500
SECONDS_PER_RUN = 6.0  # one run's three ops, measured at local[4]; sizes the pass
WARM_RUNS = 1
WARM_INITIAL_ROWS = 3_000


class Workload:
    def __init__(self, seed: int, seconds: int, cache: str, run_dir: str):
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.runs = max(2, round(seconds / SECONDS_PER_RUN))

    def generate(self) -> None:
        # the table is served on demand; only its ground truth is precomputed
        self.sizes = [INITIAL_ROWS + r * GROWTH_ROWS for r in range(self.runs)]
        self.truth = gen.sap_truth(self.seed, self.sizes)

    def setup(self, spark, tracer) -> None:
        from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.saprfc_dsv2 import (
            register,
        )

        self.spark = spark
        self.tracer = tracer
        register(spark)
        self.served = _Served()
        # warm-up: the same three steps on another client's (seed's) table,
        # with its own lake, sink and checkpoint
        warm = _Table(
            spark,
            tracer,
            gen.WARM_SEED_OFFSET + self.seed,
            os.path.join(self.run_dir, "warm"),
            self.served,
        )
        sizes = [WARM_INITIAL_ROWS + r * GROWTH_ROWS for r in range(WARM_RUNS)]
        truth = gen.sap_truth(warm.seed, sizes)
        for r, n in enumerate(sizes):
            for step in ("extract", "drain", "merge"):
                getattr(warm, step)(r, n, truth[r], "warmup")()
        self.served.take()  # the warm-up's pages are not the pass's

    def ops(self) -> list:
        t = _Table(
            self.spark, self.tracer, self.seed, os.path.join(self.run_dir, "timed"), self.served
        )
        out = []
        for r, n in enumerate(self.sizes):
            for step in ("extract", "drain", "merge"):
                op_id = f"r{r:02d}-{step}"
                out.append((op_id, _bind(getattr(t, step), r, n, self.truth[r], op_id)))
        return out


def _bind(step, r, n, truth, op_id):
    return lambda: step(r, n, truth, op_id)


class _Table:
    """One SAP table's extraction state: its lake, stream sink and
    checkpoint, and the merged table's versions."""

    def __init__(self, spark, tracer, seed: int, base: str, served: "_Served"):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.lake = os.path.join(base, "lake")
        self.landed = os.path.join(base, "landed")
        self.ckpt = os.path.join(base, "ckpt")
        self.merged = os.path.join(base, "merged")
        self.served = served
        self.auth = {
            "ashost": "localhost",
            "sysnr": "00",
            "client": str(seed),
            "user": "bench",
            "passwd": "bench",
        }

    def extract(self, r: int, n: int, truth: "gen.SapTruth", op_id: str):
        from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.lake import (
            write_dual_sink,
        )
        from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import (
            PyRfcTransport,
            parse_rfc_frame,
            read_rfc_table,
        )

        auth = self.auth
        tr = self.tracer
        with tr.span(op_id, "sources.read", "build") as read_sp:
            raw, fields = read_rfc_table(
                self.spark,
                lambda: PyRfcTransport(**auth),
                TABLE,
                page_size=PAGE_ROWS,
                total_rows=n,
            )
            parsed = parse_rfc_frame(raw, fields)
        with tr.span(op_id, "sources.lake.write", "write") as sp:
            rep = write_dual_sink(parsed, self.lake, TABLE, run_ts=f"run{r:03d}")
        if sp is not None:
            files, size = _disk_usage(rep.data_path, rep.error_path)
            tr.add(sp, files=files, bytes_written=size, rows=rep.total_count, error_rows=rep.err_count)
            # the pages are fetched by the sink's tasks; they count for the read
            pages, rows = self.served.take()
            tr.add(read_sp, pages=pages, rows=rows)

        def check():
            if rep.total_count != n or rep.err_count != truth.malformed:
                raise AssertionError(
                    f"extract of {n} rows: valid {rep.valid_count} + error {rep.err_count}, "
                    f"want {n} rows with {truth.malformed} malformed"
                )

        return check

    def drain(self, r: int, n: int, truth: "gen.SapTruth", op_id: str):
        from pyspark.sql import functions as F

        tr = self.tracer
        with tr.span(op_id, "streaming.drain", "drain") as sp:
            reader = self.spark.readStream.format("saprfc").option("transport", "pyrfc")
            for k, v in self.auth.items():
                reader = reader.option(k, v)
            stream = (
                reader.option("table", TABLE)
                .option("pagesize", str(PAGE_ROWS))
                .option("totalrows", str(n))
                .load()
                .withColumn("run", F.lit(r))
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", self.landed)
                .option("checkpointLocation", self.ckpt)
                .partitionBy("run")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        progress = q.recentProgress
        if sp is not None:
            tr.stream_group(sp, str(q.runId))
            d = [p.durationMs for p in progress]
            tr.add(
                sp,
                trigger_s=sum(x.get("triggerExecution", 0) for x in d) / 1e3,
                add_batch_s=sum(x.get("addBatch", 0) for x in d) / 1e3,
                commit_s=sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1e3,
                source_s=sum(x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d) / 1e3,
            )
            pages, rows = self.served.take()
            tr.add(sp, pages=pages, rows=rows)

        def check():
            if q.exception() is not None:
                raise AssertionError(f"drain failed: {q.exception()}")
            landed = self.spark.read.parquet(self.landed).count()
            if landed != n:
                raise AssertionError(f"{landed} rows landed after the drain, want {n}")

        return check

    def merge(self, r: int, n: int, truth: "gen.SapTruth", op_id: str):
        from pyspark.sql import functions as F

        from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.ingest import (
            merge_upsert,
        )

        out = f"{self.merged}/v{r:03d}"
        with self.tracer.span(op_id, "operators.ingest.merge", "write"):
            delta = (
                self.spark.read.parquet(f"{self.landed}/run={r}")
                .filter(F.col("_corrupt_record").isNull())
                .drop("_corrupt_record")
            )
            base = self.spark.read.parquet(f"{self.merged}/v{r - 1:03d}") if r else delta.limit(0)
            merge_upsert(base, delta, ["FIELDNAME"]).write.parquet(out)

        def check():
            m = self.spark.read.parquet(out)
            rows, keys = m.agg(F.count(F.lit(1)), F.countDistinct("FIELDNAME")).first()
            if rows != keys or rows != truth.keys:
                raise AssertionError(
                    f"merged table: {rows} rows, {keys} distinct keys, want {truth.keys} unique"
                )
            want = dict(truth.restated)
            if want:
                got = dict(
                    m.filter(F.col("FIELDNAME").isin(list(want)))
                    .select("FIELDNAME", "ROLLNAME")
                    .collect()
                )
                if got != want:
                    raise AssertionError("a restated key does not carry its newest value")

        return check


class _Served:
    """Pages and rows the SAP stand-in served since the last ``take``, read
    from its page log (set in traced runs only; otherwise always 0)."""

    def __init__(self):
        self.path = os.environ.get("PERFBENCH_RFC_LOG")
        self.offset = 0

    def take(self) -> tuple[int, int]:
        if not self.path:
            return 0, 0
        from perfbench.sapserver import pyrfc

        pages, rows, self.offset = pyrfc.served_since(self.path, self.offset)
        return pages, rows


def _disk_usage(*paths: str) -> tuple[int, int]:
    files = size = 0
    for p in paths:
        for root, _dirs, names in os.walk(p):
            for f in names:
                if not f.startswith(".") and not f.startswith("_"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, f))
    return files, size
