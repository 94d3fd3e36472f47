"""Observability layer (reference: internal/metrics/metrics.go:24-179 +
the /metrics endpoint, internal/http/server.go:85-91).

The reference increments Prometheus counters per parsed report. The
Spark-native equivalent is NOT per-row driver callbacks (a scale
anti-pattern) — it is aggregation over the same DataFrames the ingest
produces, computed in one distributed pass, plus `df.observe()` hooks
for zero-extra-pass streaming counts:

- `ingest_metrics(res)`: metric rows mirroring the reference series
  (`parsedmarc_parser_reports_total{type}`,
  `parsedmarc_parser_failures_total{type, reason}`,
  `parsedmarc_parser_report_size_bytes` histogram buckets of
  metrics.go:48-54) as a small DataFrame.
- `observed_ingest(files)`: attaches an Observation to the ingest scan
  so the first action over the batch reports file/byte counts without
  a second pass. The streaming daemon sizes its table writes from the
  observed batch bytes, and takes its reports/failures counters from
  Observations on those writes (`streaming/daemon.py`) rather than
  from `ingest_metrics`' counts.
- `to_prometheus_textfile(...)`: renders the node-exporter textfile
  format, the standard drop-in for scrape-based setups.

Batch durations (`parsedmarc_parser_duration_seconds`) are a
per-micro-batch property in Spark, not per-report; stream_ingest logs
them via StreamingQuery progress (`lastProgress["durationMs"]`), which
`query_progress_metrics` converts to metric rows.
"""

from __future__ import annotations

import time
from typing import Iterable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# metrics.go:48-54 report-size histogram bucket bounds
SIZE_BUCKETS = [1024, 4096, 16384, 65536, 262144, 1048576, 4194304]

METRIC_SCHEMA = "name string, labels string, value double"


def _rows_df(spark: SparkSession, rows: list[tuple[str, str, float]]) -> DataFrame:
    return spark.createDataFrame(rows, METRIC_SCHEMA)


def ingest_metrics(res, source: str = "file") -> DataFrame:
    """Metric rows for one ingest pass. Counts come from the SAME
    frames the caller writes, so the numbers are exactly the accept/
    reject matrix (asserted against test_ingest_samples)."""
    spark = res.rejects.sparkSession
    rows: list[tuple[str, str, float]] = []
    for family, df in (
        ("aggregate", res.aggregate_reports),
        ("forensic", res.forensic_reports),
        ("smtp_tls", res.smtp_tls_reports),
    ):
        rows.append(
            (
                "parsedmarc_parser_reports_total",
                f'type="{family}",source="{source}"',
                float(df.count()),
            )
        )
    for r in (
        res.rejects.groupBy("kind", "error").count().collect()
    ):
        rows.append(
            (
                "parsedmarc_parser_failures_total",
                f'type="{r.kind}",source="{source}",reason="{r["error"]}"',
                float(r["count"]),
            )
        )
    return _rows_df(spark, rows)


def size_histogram(files: DataFrame, length_col: str = "length") -> DataFrame:
    """parsedmarc_parser_report_size_bytes cumulative histogram over the
    scanned files — one aggregate pass, conditional sums per bucket
    (the codegen'd form of a Prometheus histogram)."""
    aggs = [
        F.sum(F.when(F.col(length_col) <= b, 1).otherwise(0)).cast("double").alias(f"le_{b}")
        for b in SIZE_BUCKETS
    ] + [
        F.count("*").cast("double").alias("le_inf"),
        F.sum(length_col).cast("double").alias("sum_bytes"),
    ]
    row = files.agg(*aggs).collect()[0]
    spark = files.sparkSession
    rows = [
        (
            "parsedmarc_parser_report_size_bytes_bucket",
            f'le="{b}"',
            float(row[f"le_{b}"] or 0.0),
        )
        for b in SIZE_BUCKETS
    ]
    rows.append(("parsedmarc_parser_report_size_bytes_bucket", 'le="+Inf"', float(row["le_inf"])))
    rows.append(("parsedmarc_parser_report_size_bytes_sum", "", float(row["sum_bytes"] or 0.0)))
    rows.append(("parsedmarc_parser_report_size_bytes_count", "", float(row["le_inf"])))
    return _rows_df(spark, rows)


def observed_ingest(files: DataFrame, name: str = "ingest") -> tuple[DataFrame, Observation]:
    """Attach an Observation to the file scan: any ONE action over the
    returned frame also yields {files, bytes, oversized} with no extra
    job — the per-batch counter hook for the streaming daemon."""
    obs = Observation(name)
    observed = files.observe(
        obs,
        F.count(F.lit(1)).alias("files"),
        F.sum("length").alias("bytes"),
        F.sum(F.when(F.col("length") > 100 * 1024 * 1024, 1).otherwise(0)).alias("oversized"),
    )
    return observed, obs


def query_progress_metrics(spark: SparkSession, progress: dict | None) -> DataFrame:
    """StreamingQuery.lastProgress → duration metric rows
    (the Spark analogue of parsedmarc_parser_duration_seconds)."""
    rows: list[tuple[str, str, float]] = []
    if progress:
        for phase, ms in (progress.get("durationMs") or {}).items():
            rows.append(
                (
                    "parsedmarc_stream_batch_duration_seconds",
                    f'phase="{phase}"',
                    float(ms) / 1000.0,
                )
            )
        rows.append(
            (
                "parsedmarc_stream_input_rows_total",
                "",
                float(progress.get("numInputRows") or 0),
            )
        )
    return _rows_df(spark, rows)


def escape_label_value(value: str) -> str:
    """Prometheus exposition-format label escaping (backslash, quote,
    newline) — reject reasons are free-form parser errors."""
    return value.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def render_prometheus_text(totals: dict[tuple[str, str], float]) -> str:
    """{(metric_name, label_string): value} → exposition-format text.
    The no-Spark renderer for process-local counters (the streaming
    daemon's cumulative per-batch totals)."""
    lines: list[str] = []
    seen: set[str] = set()
    for (name, labels), value in sorted(totals.items()):
        # TYPE must be declared on the BASE metric name: histogram series
        # are exposed as <base>_bucket{le=...}/_sum/_count but typed as
        # `# TYPE <base> histogram` (round-4 advice).
        base = name[: -len("_bucket")] if name.endswith("_bucket") else name
        if base not in seen:
            seen.add(base)
            kind = "histogram" if name.endswith("_bucket") else "counter"
            lines.append(f"# TYPE {base} {kind}")
        label_part = "{" + labels + "}" if labels else ""
        v = int(value) if float(value).is_integer() else value
        lines.append(f"{name}{label_part} {v}")
    return "\n".join(lines) + "\n"


def write_metrics_textfile(totals: dict[tuple[str, str], float], path: str) -> None:
    """Atomically publish counter totals where a scraper (or the HTTP
    receiver's /metrics bridge) reads them — tmp + rename so a
    concurrent reader never sees a torn file."""
    import os

    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(render_prometheus_text(totals))
    os.replace(tmp, path)


def to_prometheus_textfile(metric_dfs: Iterable[DataFrame], path: str) -> None:
    """Render metric rows in the Prometheus textfile-collector format
    (the file a node-exporter picks up — the scrape-less equivalent of
    the reference's /metrics endpoint)."""
    lines: list[str] = []
    seen_names: set[str] = set()
    for df in metric_dfs:
        for r in df.collect():
            if r.name not in seen_names:
                seen_names.add(r.name)
                kind = "histogram" if r.name.endswith("_bucket") else "counter"
                lines.append(f"# TYPE {r.name} {kind}")
            label_part = "{" + r.labels + "}" if r.labels else ""
            value = int(r.value) if float(r.value).is_integer() else r.value
            lines.append(f"{r.name}{label_part} {value}")
    lines.append(f"# EOF written_at={int(time.time())}")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
