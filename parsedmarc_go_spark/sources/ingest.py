"""End-to-end ingest pipeline (SURVEY §3.1 Spark shape):

binaryFile scan (S1-S2) → extraction pandas UDF (S3-S5, S8-S13) →
report-type routing (S14) → per-family parse (S6 from_xml / S7
from_json / forensic struct) → normalize → flat analytic tables.

One scan and two persisted intermediates (the extracted and the parsed
<feedback> frames, see `ingest_files`), released by the caller's
`caching.scope()`; no shuffles until the analytics queries. Per-file
error isolation lands rejects in a quarantine DataFrame instead of
failing the batch (parser.go:116-132 logs and continues; main.go:269-290).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parsedmarc_go_spark.caching import release_intermediates, scoped_persist
from parsedmarc_go_spark.functions.normalize import (
    aggregate_records_flat,
    aggregate_reports_flat,
    aggregate_validity,
    has_bad_record_count,
    ingest_ts,
    strip_to_feedback,
)
from parsedmarc_go_spark.schemas import (
    AGGREGATE_FEEDBACK_SCHEMA,
    FORENSIC_JSON_SCHEMA,
    SMTP_TLS_JSON_SCHEMA,
)
from parsedmarc_go_spark.sources.extract import extract_udf

MAX_FILE_BYTES = 100 * 1024 * 1024  # F3, parser.go:208


def read_report_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """S1/S2 — one row per file (path, content binary). Recursive, size-
    capped, empty files quarantined downstream rather than failing."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).select("path", "length", "content")


def extract_reports(files: DataFrame) -> DataFrame:
    """Run the extraction cascade once per file; keep only (path, x)."""
    guarded = files.withColumn(
        "x",
        F.when(
            F.col("length") > MAX_FILE_BYTES,
            F.struct(
                F.lit("error").alias("kind"),
                F.lit(None).cast("string").alias("payload"),
                F.lit(None).cast("string").alias("container"),
                F.lit(None).cast("string").alias("forensic_json"),
                F.lit("report exceeds 100 MB cap").alias("error"),
            ),
        ).otherwise(extract_udf(F.col("content"))),
    )
    return guarded.select("path", "x.*")


@dataclass
class IngestResult:
    aggregate_reports: DataFrame
    aggregate_records: DataFrame
    forensic_reports: DataFrame
    smtp_tls_reports: DataFrame
    smtp_tls_failures: DataFrame
    rejects: DataFrame  # (path, kind, error)


def parse_feedback(extracted: DataFrame) -> DataFrame:
    """S6, first half: wrapper strip → from_xml (PERMISSIVE, corrupt
    column) over the aggregate rows, giving (path, fb)."""
    return extracted.filter(F.col("kind") == "aggregate").select(
        "path",
        F.from_xml(
            strip_to_feedback(F.col("payload")),
            AGGREGATE_FEEDBACK_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("fb"),
    )


def aggregate_tables(
    parsed: DataFrame, as_of: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S6, second half: validity gate (F1/F2) over `parse_feedback`'s
    (path, fb) → parent and fact projections plus the rejects."""
    fb = F.col("fb")
    ok = parsed.filter(aggregate_validity(fb))
    bad = parsed.filter(~aggregate_validity(fb)).select(
        "path",
        F.lit("aggregate").alias("kind"),
        F.coalesce(
            F.when(F.col("fb._corrupt_record").isNotNull(), "xml parse failed"),
            F.when(
                F.col("fb.report_metadata.date_range.begin").try_cast("long").isNull()
                | F.col("fb.report_metadata.date_range.end").try_cast("long").isNull(),
                "invalid date range",
            ),
            F.when(has_bad_record_count(fb), "invalid record count"),
            F.lit("time span > 24 hours - RFC 7489 section 7.2"),
        ).alias("error"),
    )
    return (
        aggregate_reports_flat(ok, as_of=as_of),
        aggregate_records_flat(ok, as_of=as_of),
        bad,
    )


def parse_aggregate(
    extracted: DataFrame, as_of: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S6: `parse_feedback` then `aggregate_tables` — (reports,
    records, rejects) from an extracted frame."""
    return aggregate_tables(parse_feedback(extracted), as_of)


def parse_forensic(extracted: DataFrame, as_of: str | None = None) -> DataFrame:
    """S10/S13 output typing: the extraction UDF already parsed the MIME
    and the RFC 6591 key-value block; type the struct and project the
    flat table (clickhouse.go:145-176). Offline enrichment defaults as
    in parser.go:1274-1296."""
    fr = (
        extracted.filter(F.col("kind") == "forensic")
        .select("path", F.from_json("forensic_json", FORENSIC_JSON_SCHEMA).alias("r"))
        .select("path", "r.*")
    )
    arrival = F.coalesce(F.try_to_timestamp(F.col("arrival_date")), ingest_ts(as_of))
    return fr.select(
        F.coalesce(F.col("feedback_type"), F.lit("auth-failure")).alias("feedback_type"),
        "user_agent",
        "version",
        "original_envelope_id",
        "original_mail_from",
        "original_rcpt_to",
        arrival.alias("arrival_date"),
        arrival.alias("arrival_date_utc"),
        F.coalesce(F.col("subject"), F.lit("")).alias("subject"),
        F.coalesce(F.col("message_id"), F.lit("")).alias("message_id"),
        F.coalesce(F.col("authentication_results"), F.lit("")).alias("authentication_results"),
        "dkim_domain",
        F.coalesce(F.col("source_ip_address"), F.lit("")).alias("source_ip_address"),
        F.lit("Unknown").alias("source_country"),
        F.lit("").alias("source_reverse_dns"),
        F.lit("").alias("source_base_domain"),
        F.lit("").alias("source_name"),
        F.lit("Unknown").alias("source_type"),
        F.coalesce(F.col("delivery_result"), F.lit("other")).alias("delivery_result"),
        F.coalesce(F.col("auth_failure"), F.array(F.lit("dmarc"))).alias("auth_failure"),
        F.coalesce(F.col("reported_domain"), F.lit("")).alias("reported_domain"),
        F.coalesce(F.col("authentication_mechanisms"), F.array()).alias(
            "authentication_mechanisms"
        ),
        F.coalesce(F.col("sample_headers_only"), F.lit(False)).alias("sample_headers_only"),
        F.coalesce(F.col("sample"), F.lit("")).alias("sample"),
        F.coalesce(F.col("parsed_sample"), F.lit("")).alias("parsed_sample"),
        ingest_ts(as_of).alias("created_at"),
    )


def parse_smtp_tls(
    extracted: DataFrame, as_of: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S7: RFC 8460 JSON (hyphenated wire keys) → reports + failure
    details tables (clickhouse.go:183-228, 415-497). One report row per
    policy (explode), one failure row per failure detail."""
    tls = extracted.filter(F.col("kind") == "smtp_tls").select(
        "path",
        F.from_json(
            "payload",
            SMTP_TLS_JSON_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
    )
    ok = tls.filter(F.col("r._corrupt_record").isNull() & F.col("r").isNotNull())
    bad = tls.filter(F.col("r._corrupt_record").isNotNull() | F.col("r").isNull()).select(
        "path", F.lit("smtp_tls").alias("kind"), F.lit("json parse failed").alias("error")
    )

    pol = ok.select(
        F.coalesce(F.col("r.`organization-name`"), F.lit("")).alias("organization_name"),
        F.try_to_timestamp(F.col("r.`date-range`.`start-datetime`")).alias("begin_date"),
        F.try_to_timestamp(F.col("r.`date-range`.`end-datetime`")).alias("end_date"),
        F.coalesce(F.col("r.`contact-info`"), F.lit("")).alias("contact_info"),
        F.coalesce(F.col("r.`report-id`"), F.lit("")).alias("report_id"),
        F.explode_outer(F.col("r.policies")).alias("pol"),
    )
    reports = pol.select(
        "organization_name",
        "begin_date",
        "end_date",
        "contact_info",
        "report_id",
        F.coalesce(F.col("pol.policy.`policy-domain`"), F.lit("")).alias("policy_domain"),
        F.coalesce(F.col("pol.policy.`policy-type`"), F.lit("")).alias("policy_type"),
        F.coalesce(F.col("pol.policy.`policy-string`"), F.array()).alias("policy_strings"),
        F.coalesce(F.col("pol.policy.`mx-host-pattern`"), F.array()).alias("mx_host_patterns"),
        F.coalesce(F.col("pol.summary.`total-successful-session-count`"), F.lit(0)).alias(
            "successful_session_count"
        ),
        F.coalesce(F.col("pol.summary.`total-failure-session-count`"), F.lit(0)).alias(
            "failed_session_count"
        ),
        ingest_ts(as_of).alias("created_at"),
    )
    failures = (
        pol.select(
            "report_id",
            F.coalesce(F.col("pol.policy.`policy-domain`"), F.lit("")).alias("policy_domain"),
            F.explode(F.coalesce(F.col("pol.`failure-details`"), F.array())).alias("fd"),
        )
        .select(
            "report_id",
            "policy_domain",
            F.coalesce(F.col("fd.`result-type`"), F.lit("")).alias("result_type"),
            F.coalesce(F.col("fd.`failed-session-count`"), F.lit(0)).alias("failed_session_count"),
            F.col("fd.`sending-mta-ip`").alias("sending_mta_ip"),
            F.col("fd.`receiving-ip`").alias("receiving_ip"),
            F.col("fd.`receiving-mx-hostname`").alias("receiving_mx_hostname"),
            F.col("fd.`receiving-mx-helo`").alias("receiving_mx_helo"),
            F.col("fd.`additional-information`").alias("additional_info_uri"),
            F.col("fd.`failure-reason-code`").alias("failure_reason_code"),
            ingest_ts(as_of).alias("created_at"),
        )
    )
    return reports, failures, bad


def ingest(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    as_of: str | None = None,
) -> IngestResult:
    """Parse every report under `path` into the five flat tables plus a
    quarantine of rejects. The extracted frame is the single Python
    stage; everything after is JVM-side."""
    return ingest_files(read_report_files(spark, path, glob), as_of=as_of)


def ingest_files(files: DataFrame, as_of: str | None = None) -> IngestResult:
    """The ingest DAG over any (path, length, content) frame — the raw
    binaryFile scan (`read_report_files`) or a compacted landing archive
    (`storage.read_compacted_landing`), which is how the one-file-one-row
    trade-off of binaryFile is retired at 100 TB: consolidate once,
    re-ingest from chunky parquet forever after.

    Caching contract: the extracted frame and the parsed <feedback>
    frame are persisted through `caching.scoped_persist` and filled by
    the first action on any output, so later outputs and counts read
    them instead of rescanning `files` and re-running from_xml. Call it
    inside `caching.scope()` to release both when the block exits;
    outside a scope they are released at the next gate boundary on
    this thread or by `caching.release_intermediates()`. Each call
    first releases this thread's unscoped intermediates, so an unscoped
    re-ingest of the same path rescans it instead of reading the
    previous call's cache (two ingests inside one scope still share
    it); a caller still holding the older result only loses its cache
    reuse."""
    release_intermediates()
    extracted = scoped_persist(extract_reports(files))
    feedback = scoped_persist(parse_feedback(extracted))
    agg_reports, agg_records, agg_bad = aggregate_tables(feedback, as_of)
    forensic = parse_forensic(extracted, as_of)
    tls_reports, tls_failures, tls_bad = parse_smtp_tls(extracted, as_of)
    hard_errors = extracted.filter(F.col("kind") == "error").select(
        "path", F.lit("unknown").alias("kind"), "error"
    )
    rejects = hard_errors.unionByName(agg_bad).unionByName(tls_bad)
    return IngestResult(
        aggregate_reports=agg_reports,
        aggregate_records=agg_records,
        forensic_reports=forensic,
        smtp_tls_reports=tls_reports,
        smtp_tls_failures=tls_failures,
        rejects=rejects,
    )
