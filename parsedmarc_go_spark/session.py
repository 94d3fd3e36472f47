"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness-at-scale first:

- UTC session timezone (report timestamps are UTC per RFC 7489; the
  reference decodes epoch seconds as UTC, ``internal/utils/utils.go:24-30``).
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  cover the top-k / grouped aggregations of the dashboard workload at
  any scale factor without hand-tuning.
- Arrow on: every Python-side exchange (the extraction UDFs are the only
  Python hot path) moves in columnar batches.
- Local masters list files on the driver. The streaming file source
  builds each micro-batch over explicit file paths, and past
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) paths
  Spark lists them in a job of its own, one task per path. On
  ``local[N]`` those tasks run on the driver's own threads, so the job
  buys nothing; ``get_spark`` raises the threshold there. Masters given
  by spark-submit or an existing session keep Spark's default.

On a real cluster, ``spark.sql.shuffle.partitions`` should be ~2-3x the
total executor cores; tests/bench pass it explicitly for local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dimension tables (orders/customer at bench SF, the 1.8k-row
    # reverse-DNS map) comfortably fit; raise the auto-broadcast bar a bit
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # parquet scan behavior: pushdown is on by default; keep explicit so a
    # config audit shows intent
    "spark.sql.parquet.filterPushdown": "true",
    # the driver's events.ts is TIMESTAMP(NANOS) parquet, which Spark's
    # reader rejects; read as long and convert in tables.load()
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}


def get_spark(
    app_name: str = "parsedmarc-go-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. ``master=None`` respects an existing
    session / spark-submit; local runs pass ``local[N]``."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            # list explicit file paths on the driver at any count: the
            # executors of a local master are the driver's own threads
            builder = builder.config(
                "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
            )
            if not (extra_confs or {}).get("spark.driver.memory"):
                # local[N] runs everything in one JVM whose default 1g heap
                # OOMs under N-way task concurrency at bench+ corpus sizes;
                # on a real cluster the submitter sizes executors instead
                builder = builder.config(
                    "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
                )
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_spark(cpus: int | None = None) -> SparkSession:
    """Session for tests/bench on this machine."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark(master=f"local[{n}]", shuffle_partitions=n)
