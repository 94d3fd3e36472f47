"""Daemon mode (SURVEY §2.10, milestone 4): Structured Streaming over a
file-drop landing zone.

The reference's daemon is an IMAP poll loop (300 s default,
config.go:208) plus an HTTP push endpoint (http/server.go:353-420);
both ultimately produce raw report payloads one at a time. The Spark
shape: an external fetcher (IMAP/HTTP receiver — mailbox protocol does
not belong in the engine) lands raw files in `landing_dir`; this stream
picks them up, runs the *same* batch transforms via foreachBatch, and
writes the six Parquet tables (`STREAM_TABLES`: five report tables plus
the rejects quarantine). `maxFilesPerTrigger` is the backpressure knob
(the analogue of the reference's rate limiter, server.go:239-270).

A micro-batch commits in a few jobs. One action fills the batch's two
cached intermediates (the extracted and the parsed <feedback> frames),
then the six tables are written concurrently, one thread each, every
table as ceil(batch bytes / maxPartitionBytes) files. The batch's byte
count and the metrics counters are Observations on those same actions,
so counting costs no job of its own.

The fill runs at one task per core: before extraction the batch is
coalesced to max(defaultParallelism, ceil(batch bytes /
maxPartitionBytes)) partitions, the rule the table writes use. The
per-task memory bound follows from it. A batch of small files puts
ceil(files / cores) files in each task, and the extraction UDF gets
them in one Arrow batch (up to `spark.sql.execution.arrow.
maxRecordsPerBatch` files), so a task holds those files' bytes and
their extracted payloads at once. A batch of large files keeps one
task per maxPartitionBytes of input. The enrichment dims are prepared
once per `EnrichmentContext` and read from the cache by every batch.

End-to-end exactly-once: the checkpointed file source replays a failed
micro-batch with the SAME batch_id, and every table write is an
idempotent dynamic-partition OVERWRITE of that batch's own
`__batch_id=N` partition — a crash that lets some of the six writes
land re-runs the batch and replaces exactly what it wrote before, never
appending duplicates. (Plain `append` here would silently degrade to
at-least-once across the six non-atomic writes.) Readers drop the
bookkeeping column via `read_stream_table`.

Batch/stream parity is structural: foreachBatch runs the same
`ingest_files` fan-out the batch path uses, so tests assert table
equality.
"""

from __future__ import annotations

import dataclasses
import math
import os
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from parsedmarc_go_spark import caching
from parsedmarc_go_spark.functions.normalize import check_as_of
from parsedmarc_go_spark.metrics import (
    escape_label_value,
    observed_ingest,
    write_metrics_textfile,
)
from parsedmarc_go_spark.sources.ingest import ingest_files

BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"

STREAM_TABLES = (
    "aggregate_reports",
    "aggregate_records",
    "forensic_reports",
    "smtp_tls_reports",
    "smtp_tls_failures",
    "rejects",
)


# report families counted per batch: table → Prometheus `type` label
REPORT_FAMILIES = {
    "aggregate_reports": "aggregate",
    "forensic_reports": "forensic",
    "smtp_tls_reports": "smtp_tls",
}


def _write_table(df: DataFrame, out_dir: str, name: str, batch_id: int) -> None:
    """One idempotent table commit: dynamic partition overwrite scoped
    to THIS batch's __batch_id partition, set on the writer so that
    concurrent writers never touch the session conf. Module-level (not
    a closure) so the crash test can fail-inject into one table write."""
    (
        df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(os.path.join(out_dir, name))
    )


def _write_tables(spark: SparkSession, frames: dict[str, DataFrame], out_dir: str,
                  batch_id: int) -> None:
    """Write every table on its own thread, wait for all, then re-raise
    the first error. Each target is wrapped on this thread, so every
    write gets its own copy of the stream's job group (stopping the
    query cancels it) and of its SQL execution properties."""
    with ThreadPoolExecutor(len(frames)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(_write_table), df, out_dir, name, batch_id)
            for name, df in frames.items()
        ]
    for f in futures:
        f.result()


def _partitions_for(spark: SparkSession, n_bytes: int) -> int:
    """ceil(n_bytes / spark.sql.files.maxPartitionBytes)."""
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return math.ceil(n_bytes / max_bytes)


def _estimated_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of `df`, with no job: for a file
    batch, its files' bytes scaled by the projected row width."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def make_batch_processor(
    out_dir: str,
    enrichment=None,
    metrics_path: str | None = None,
    as_of: str | None = None,
):
    """foreachBatch body, factored out so idempotence is directly
    testable: calling it twice with the same batch_id (the
    crash-and-replay case) must leave every table unchanged.

    `enrichment` is an optional functions.enrich.EnrichmentContext —
    when given, aggregate records and forensic reports get GeoIP /
    reverse-DNS / sender classification applied in-batch, replacing the
    offline defaults exactly where the reference enriches per record
    (parser.go:1272-1299).

    `metrics_path`: when set, cumulative reports/failures counters are
    published there (atomic textfile) after every batch — the file the
    HTTP receiver's GET /metrics bridges into its scrape output, which
    mirrors the reference's shared Prometheus registry
    (metrics.go:24-179). The counts are Observations on the table
    writes themselves, so they cost no extra job. Counters are
    process-local and monotone within a daemon run, exactly like the
    reference's in-process counters. Each batch's contribution is keyed
    by batch_id, so the crash-and-replay case the table writes are
    designed for is idempotent in the counters too: re-running batch N
    overwrites N's contribution instead of double-counting (round-4
    advice).

    A malformed `as_of` raises ValueError here, before any job."""
    if as_of is not None:
        check_as_of(as_of)
    batch_contribs: dict[int, Counter] = {}

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        from parsedmarc_go_spark.functions.enrich import enrich_records

        spark = batch.sparkSession
        # the scope releases the batch's cached intermediates on every
        # way out, a failed table write included
        with caching.scope() as cached:
            # one extraction task per core, or per maxPartitionBytes of
            # a larger batch, from the plan's size estimate
            n_fill = max(spark.sparkContext.defaultParallelism,
                         _partitions_for(spark, _estimated_bytes(batch)))
            batch, batch_obs = observed_ingest(batch.coalesce(n_fill))
            # `as_of` pins the ingest clock: with it set, a crash-and-
            # replay of batch N rewrites byte-identical files (created_at
            # included) instead of merely row-equivalent ones
            res = ingest_files(batch, as_of)
            # ingest_files persists the extracted frame, then the parsed
            # <feedback> frame read from it: one action fills both
            cached[-1].write.format("noop").mode("overwrite").save()
            if enrichment is not None:
                res = dataclasses.replace(
                    res,
                    aggregate_records=enrich_records(res.aggregate_records, enrichment),
                    forensic_reports=enrich_records(res.forensic_reports, enrichment),
                )
            frames = {name: getattr(res, name) for name in STREAM_TABLES}
            written: dict[str, Observation] = {}
            if metrics_path:
                for name in (*REPORT_FAMILIES, "rejects"):
                    # a batch has at most one reject per file, so the
                    # (kind, error) list is bounded by maxFilesPerTrigger
                    agg = (F.collect_list(F.struct("kind", "error")) if name == "rejects"
                           else F.count(F.lit(1)))
                    written[name] = Observation(f"{name}_written")
                    frames[name] = frames[name].observe(written[name], agg.alias("v"))
            # one file per table per maxPartitionBytes of input
            n_files = max(1, _partitions_for(spark, batch_obs.get["bytes"] or 0))
            # idempotent commit: a replay of batch N replaces batch N's
            # files and touches nothing else (see _write_table)
            _write_tables(spark, {n: df.coalesce(n_files) for n, df in frames.items()},
                          out_dir, batch_id)
        if metrics_path:
            contrib = Counter({
                ("parsedmarc_parser_reports_total", f'type="{family}",source="stream"'):
                    written[name].get["v"]
                for name, family in REPORT_FAMILIES.items()
            })
            contrib.update(
                ("parsedmarc_parser_failures_total",
                 f'type="{r["kind"]}",source="stream",'
                 f'reason="{escape_label_value(r["error"] or "")}"')
                for r in written["rejects"].get["v"]
            )
            batch_contribs[batch_id] = contrib  # replay-safe overwrite
            totals: Counter = Counter()
            for c in batch_contribs.values():
                totals.update(c)
            write_metrics_textfile(totals, metrics_path)

    return process_batch


def read_stream_table(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """Read one of the daemon's output tables, dropping the __batch_id
    bookkeeping partition column."""
    return spark.read.parquet(os.path.join(out_dir, name)).drop("__batch_id")


def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = 300,
    max_files_per_trigger: int = 1000,
    available_now: bool = False,
    enrichment=None,
    metrics_path: str | None = None,
    as_of: str | None = None,
) -> StreamingQuery:
    """readStream(binaryFile) → extraction/parse DAG → foreachBatch
    committing each micro-batch to the five flat Parquet tables and the
    rejects quarantine: one cache fill, then six concurrent table
    writes, one thread each, each an idempotent overwrite of the batch's own
    `__batch_id` partition (see `make_batch_processor`).
    `metrics_path` (optional) publishes the cumulative counters taken
    from those writes; `as_of` (optional) pins the ingest clock — see
    normalize.ingest_ts — and a malformed one raises ValueError before
    the query starts."""
    # built first: a malformed as_of raises before the source is read
    process = make_batch_processor(out_dir, enrichment, metrics_path, as_of)
    files = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(landing_dir)
        .select("path", "length", "content")
    )

    writer = files.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
