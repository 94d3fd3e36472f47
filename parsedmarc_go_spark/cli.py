"""CLI one-shot + daemon entry point (reference:
cmd/parsedmarc-go/main.go:28-130).

Flag surface kept 1:1 (Go flag package accepts -flag; argparse aliases
both -flag and --flag):

  -config FILE   config file path (missing file → defaults, main.go:47-58)
  -input PATH    file or directory to parse (main.go:97-130, 254-290)
  -output PATH   output file (default stdout, main.go:33)
  -format FMT    json | csv (writer selection, main.go:116-126)
  -version       print version and exit (main.go:39-42)
  -daemon        run receivers + streaming ingest (main.go:148-205)

One-shot mode parses the input through the full ingest pipeline and
emits the K1/K2 projections; families are written in the reference's
order (aggregate, forensic, smtp_tls) into one stream, header row per
family for CSV — the shape output.go's appending writers produce.
Rejected files are reported on stderr and make the exit code 1 only if
NOTHING parsed, matching parseDirectory's log-and-continue semantics
(parser.go:116-132).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession

from parsedmarc_go_spark import caching

VERSION = "1.0.0"  # tracks the reference's const version, main.go:26


def _flag(parser: argparse.ArgumentParser, name: str, **kw) -> None:
    parser.add_argument(f"-{name}", f"--{name}", **kw)


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="parsedmarc-go-spark",
        description="DMARC / SMTP-TLS report analytics engine on PySpark",
    )
    _flag(p, "config", default="config.yaml", help="Config file path")
    _flag(p, "input", default="", help="Input file or directory to parse")
    _flag(p, "output", default="", help="Output file (default: stdout)")
    _flag(p, "format", default="json", help="Output format: json, csv")
    _flag(p, "version", action="store_true", help="Show version information")
    _flag(p, "daemon", action="store_true", help="Run as daemon (enables IMAP and HTTP)")
    _flag(
        p,
        "as-of",
        default="",
        help="Pin the ingest clock (yyyy-MM-dd HH:mm:ss) so created_at "
        "defaults are reproducible across re-ingests (default: wall clock)",
    )
    return p


def _session_confs(cfg) -> dict[str, str]:
    """Config-derived session confs: with the kafka sink enabled, the
    connector jar coordinate is handed to the session builder
    (spark.jars.packages) so the executed produce path is live — a
    no-op when an earlier session already exists, and the
    kafka_available() guard still skips cleanly if the coordinate
    cannot resolve (offline)."""
    confs: dict[str, str] = {}
    if cfg.kafka.enabled:
        from parsedmarc_go_spark.sinks.kafka import kafka_package

        confs["spark.jars.packages"] = kafka_package()
    return confs


def _get_session(cfg) -> SparkSession:
    from parsedmarc_go_spark.session import get_spark

    return get_spark(
        app_name="parsedmarc-go-spark-cli",
        master=cfg.engine.master or "local[*]",
        shuffle_partitions=cfg.engine.shuffle_partitions or None,
        extra_confs=_session_confs(cfg),
    )


def _spark_csv_lines(df: DataFrame) -> list[str]:
    """Render a projection through Spark's own CSV writer (identical
    quoting/escaping to the tested write_csv sink), returning lines."""
    tmp = tempfile.mkdtemp(prefix="pdgs_csv_")
    try:
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
        part = next(
            os.path.join(tmp, f)
            for f in sorted(os.listdir(tmp))
            if f.startswith("part-") and f.endswith(".csv")
        )
        with open(part, encoding="utf-8") as fh:
            return fh.read().splitlines()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@caching.scope()
def run_one_shot(spark: SparkSession, cfg, args) -> int:
    from parsedmarc_go_spark.sinks.writers import (
        aggregate_csv_projection,
        forensic_csv_projection,
        smtp_tls_csv_projection,
    )
    from parsedmarc_go_spark.sources.ingest import ingest

    fmt = args.format.lower()
    if fmt not in ("json", "csv"):
        print(f"Invalid output format: {args.format}", file=sys.stderr)
        return 1

    res = ingest(spark, args.input, as_of=args.as_of or None)
    lines: list[str] = []
    emitted = 0
    if fmt == "csv":
        sections = [
            aggregate_csv_projection(res.aggregate_reports, res.aggregate_records),
            forensic_csv_projection(res.forensic_reports),
            smtp_tls_csv_projection(res.smtp_tls_reports, res.smtp_tls_failures),
        ]
        for df in sections:
            if df.limit(1).count() == 0:
                continue
            lines.extend(_spark_csv_lines(df))
            emitted += 1
    else:
        # NDJSON framing of all five flat tables (K1 docstring: content
        # identical to the reference's pretty-printed JSON, framing is
        # the Spark-native newline-delimited form)
        for df in (
            res.aggregate_reports,
            res.aggregate_records,
            res.forensic_reports,
            res.smtp_tls_reports,
            res.smtp_tls_failures,
        ):
            rows = df.toJSON().collect()
            lines.extend(rows)
            emitted += 1 if rows else 0

    for r in res.rejects.collect():
        print(f"reject: {r.path}: {r.error}", file=sys.stderr)

    text = "\n".join(lines) + ("\n" if lines else "")
    if args.output:
        with open(args.output, "w", encoding="utf-8") as fh:
            fh.write(text)
    else:
        sys.stdout.write(text)
    if emitted == 0:
        print("no reports parsed", file=sys.stderr)
        return 1
    return 0


def run_daemon(
    spark: SparkSession,
    cfg,
    await_seconds: float | None = None,
    available_now: bool = False,
) -> int:
    """Daemon mode (main.go:148-205): HTTP receiver and/or IMAP poll
    land raw payloads; the checkpointed stream parses them into the
    Parquet warehouse. `await_seconds` bounds the run for tests;
    `available_now` drains what's already landed and terminates (used
    by integration tests and catch-up runs); None blocks until the
    streaming query dies."""
    import threading

    from parsedmarc_go_spark.functions.enrich import build_enrichment
    from parsedmarc_go_spark.sources.receivers import ReportHTTPReceiver, watch_imap
    from parsedmarc_go_spark.streaming.daemon import stream_ingest

    eng = cfg.engine
    os.makedirs(eng.landing_dir, exist_ok=True)
    os.makedirs(eng.output_dir, exist_ok=True)
    enrichment = build_enrichment(spark, cfg.parser)
    # cumulative ingest counters land here per micro-batch; the HTTP
    # receiver bridges the file into its live GET /metrics output
    metrics_path = os.path.join(eng.output_dir, "metrics.prom")
    receiver = None
    if cfg.http.enabled:
        receiver = ReportHTTPReceiver(
            eng.landing_dir,
            host=cfg.http.host,
            port=cfg.http.port,
            rate_limit=cfg.http.rate_limit,
            rate_burst=cfg.http.rate_burst,
            max_upload=cfg.http.max_upload_size,
            metrics_textfile=metrics_path,
        )
        receiver.start()
    stop = threading.Event()
    imap_thread = None
    if cfg.imap.enabled and not cfg.parser.offline:
        # skip_verify mirrors the reference's InsecureSkipVerify toggle
        # (client.go TLS config); default stays full verification
        imap_ctx = None
        if cfg.imap.tls and cfg.imap.skip_verify:
            import ssl as _ssl

            imap_ctx = _ssl.create_default_context()
            imap_ctx.check_hostname = False
            imap_ctx.verify_mode = _ssl.CERT_NONE
        imap_thread = threading.Thread(
            target=watch_imap,
            args=(cfg.imap.host, cfg.imap.username, cfg.imap.password, eng.landing_dir),
            kwargs={
                "mailbox": cfg.imap.mailbox,
                "archive_mailbox": None if cfg.imap.delete_processed else cfg.imap.archive_mailbox,
                "check_interval": cfg.imap.check_interval,
                "stop_event": stop,
                "port": cfg.imap.port,
                "use_ssl": cfg.imap.tls,
                "ssl_context": imap_ctx,
            },
            daemon=True,
        )
        imap_thread.start()

    query = stream_ingest(
        spark,
        eng.landing_dir,
        eng.output_dir,
        eng.checkpoint_dir,
        trigger_seconds=eng.trigger_seconds,
        max_files_per_trigger=eng.max_files_per_trigger,
        available_now=available_now,
        enrichment=enrichment,
        metrics_path=metrics_path,
    )
    try:
        if await_seconds is None:
            query.awaitTermination()
        else:
            query.awaitTermination(await_seconds)
    finally:
        stop.set()
        query.stop()
        if receiver is not None:
            receiver.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    if args.version:
        print(f"parsedmarc-go-spark version {VERSION}")
        return 0

    from parsedmarc_go_spark.config import load_config

    cfg = load_config(args.config)

    if args.input and not args.daemon:
        spark = _get_session(cfg)
        return run_one_shot(spark, cfg, args)
    # daemon when asked explicitly, or when config enables a receiver
    # (main.go:148: `if *daemon || cfg.IMAP.Enabled || cfg.HTTP.Enabled`)
    if args.daemon or cfg.imap.enabled or cfg.http.enabled:
        spark = _get_session(cfg)
        return run_daemon(spark, cfg)
    build_arg_parser().print_help(sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main())
