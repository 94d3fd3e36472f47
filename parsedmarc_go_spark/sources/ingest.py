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
    AGGREGATE_REJECT_REASON,
    AGGREGATE_VALID,
    INGEST_TS,
    STRIP_TO_FEEDBACK,
    aggregate_records_flat,
    aggregate_reports_flat,
    ingest_ts,
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


# the extraction struct of a file over the F3 size cap, which is never extracted
_OVERSIZED = (
    "named_struct('kind', 'error', 'payload', CAST(NULL AS STRING),"
    " 'container', CAST(NULL AS STRING), 'forensic_json', CAST(NULL AS STRING),"
    " 'error', 'report exceeds 100 MB cap')"
)


def extract_reports(files: DataFrame) -> DataFrame:
    """Run the extraction cascade once per file; keep only (path, x)."""
    x = F.when(F.expr(f"length > {MAX_FILE_BYTES}"), F.expr(_OVERSIZED)).otherwise(
        extract_udf(F.col("content"))
    )
    return files.select("path", x.alias("x")).select("path", "x.*")


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
    return extracted.filter("kind = 'aggregate'").select(
        "path",
        F.from_xml(
            F.expr(STRIP_TO_FEEDBACK),
            AGGREGATE_FEEDBACK_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("fb"),
    )


def aggregate_tables(
    parsed: DataFrame, as_of: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S6, second half: validity gate (F1/F2) over `parse_feedback`'s
    (path, fb) → parent and fact projections plus the rejects."""
    ok = parsed.filter(AGGREGATE_VALID)
    bad = parsed.filter(f"NOT ({AGGREGATE_VALID})").selectExpr(
        "path", "'aggregate' AS kind", f"{AGGREGATE_REJECT_REASON} AS error"
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


# flat forensic table (clickhouse.go:145-176) over the typed struct's
# fields, with the offline enrichment defaults of parser.go:1274-1296
_ARRIVAL = f"coalesce(try_to_timestamp(arrival_date), {INGEST_TS})"
FORENSIC_COLUMNS = (
    "coalesce(feedback_type, 'auth-failure') AS feedback_type",
    "user_agent",
    "version",
    "original_envelope_id",
    "original_mail_from",
    "original_rcpt_to",
    f"{_ARRIVAL} AS arrival_date",
    f"{_ARRIVAL} AS arrival_date_utc",
    "coalesce(subject, '') AS subject",
    "coalesce(message_id, '') AS message_id",
    "coalesce(authentication_results, '') AS authentication_results",
    "dkim_domain",
    "coalesce(source_ip_address, '') AS source_ip_address",
    "'Unknown' AS source_country",
    "'' AS source_reverse_dns",
    "'' AS source_base_domain",
    "'' AS source_name",
    "'Unknown' AS source_type",
    "coalesce(delivery_result, 'other') AS delivery_result",
    "coalesce(auth_failure, array('dmarc')) AS auth_failure",
    "coalesce(reported_domain, '') AS reported_domain",
    "coalesce(authentication_mechanisms, array()) AS authentication_mechanisms",
    "coalesce(sample_headers_only, false) AS sample_headers_only",
    "coalesce(sample, '') AS sample",
    "coalesce(parsed_sample, '') AS parsed_sample",
    f"{INGEST_TS} AS created_at",
)


def parse_forensic(extracted: DataFrame, as_of: str | None = None) -> DataFrame:
    """S10/S13 output typing: the extraction UDF already parsed the MIME
    and the RFC 6591 key-value block; type the struct and project the
    flat table."""
    return (
        extracted.filter("kind = 'forensic'")
        .select(
            F.from_json("forensic_json", FORENSIC_JSON_SCHEMA).alias("r"),
            ingest_ts(as_of).alias(INGEST_TS),
        )
        .select("r.*", INGEST_TS)
        .selectExpr(*FORENSIC_COLUMNS)
    )


# RFC 8460 report → one row per policy (explode_outer keeps a report
# without policies), its failure details kept as `pol` for the second table
_TLS_POLICIES = (
    "coalesce(r.`organization-name`, '') AS organization_name",
    "try_to_timestamp(r.`date-range`.`start-datetime`) AS begin_date",
    "try_to_timestamp(r.`date-range`.`end-datetime`) AS end_date",
    "coalesce(r.`contact-info`, '') AS contact_info",
    "coalesce(r.`report-id`, '') AS report_id",
    "explode_outer(r.policies) AS pol",
    INGEST_TS,
)
_POLICY_DOMAIN = "coalesce(pol.policy.`policy-domain`, '') AS policy_domain"
SMTP_TLS_REPORT_COLUMNS = (
    "organization_name",
    "begin_date",
    "end_date",
    "contact_info",
    "report_id",
    _POLICY_DOMAIN,
    "coalesce(pol.policy.`policy-type`, '') AS policy_type",
    "coalesce(pol.policy.`policy-string`, array()) AS policy_strings",
    "coalesce(pol.policy.`mx-host-pattern`, array()) AS mx_host_patterns",
    "coalesce(pol.summary.`total-successful-session-count`, 0) AS successful_session_count",
    "coalesce(pol.summary.`total-failure-session-count`, 0) AS failed_session_count",
    f"{INGEST_TS} AS created_at",
)
_TLS_FAILURE_EXPLODE = (
    "report_id",
    _POLICY_DOMAIN,
    "explode(coalesce(pol.`failure-details`, array())) AS fd",
    INGEST_TS,
)
SMTP_TLS_FAILURE_COLUMNS = (
    "report_id",
    "policy_domain",
    "coalesce(fd.`result-type`, '') AS result_type",
    "coalesce(fd.`failed-session-count`, 0) AS failed_session_count",
    "fd.`sending-mta-ip` AS sending_mta_ip",
    "fd.`receiving-ip` AS receiving_ip",
    "fd.`receiving-mx-hostname` AS receiving_mx_hostname",
    "fd.`receiving-mx-helo` AS receiving_mx_helo",
    "fd.`additional-information` AS additional_info_uri",
    "fd.`failure-reason-code` AS failure_reason_code",
    f"{INGEST_TS} AS created_at",
)


def parse_smtp_tls(
    extracted: DataFrame, as_of: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S7: RFC 8460 JSON (hyphenated wire keys) → reports + failure
    details tables (clickhouse.go:183-228, 415-497). One report row per
    policy (explode), one failure row per failure detail."""
    tls = extracted.filter("kind = 'smtp_tls'").select(
        "path",
        F.from_json(
            "payload",
            SMTP_TLS_JSON_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
        ingest_ts(as_of).alias(INGEST_TS),
    )
    pol = tls.filter("r._corrupt_record IS NULL AND r IS NOT NULL").selectExpr(*_TLS_POLICIES)
    bad = tls.filter("r._corrupt_record IS NOT NULL OR r IS NULL").selectExpr(
        "path", "'smtp_tls' AS kind", "'json parse failed' AS error"
    )
    reports = pol.selectExpr(*SMTP_TLS_REPORT_COLUMNS)
    failures = pol.selectExpr(*_TLS_FAILURE_EXPLODE).selectExpr(*SMTP_TLS_FAILURE_COLUMNS)
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
    hard_errors = extracted.filter("kind = 'error'").selectExpr(
        "path", "'unknown' AS kind", "error"
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
