"""Normalization layer (SURVEY P1-P8, P13-P22, F1-F2): RFC-mandated
defaults, epoch decoding, lower-casing, alignment derivation, record
explode, struct-array → parallel-array flattening.

All pure column expressions — the whole layer stays in whole-stage
codegen. Semantics mirror the reference parse pass
(internal/parser/parser.go:1137-1266) and the store-time flatten
(internal/storage/clickhouse/clickhouse.go:270-351).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ingest_ts(as_of: str | None = None) -> Column:
    """P21 — the INJECTABLE ingest clock behind every `created_at` /
    arrival-date fallback. Wall clock (`current_timestamp()`) by
    default, a pinned literal when `as_of` is given ('yyyy-MM-dd
    HH:mm:ss'). Pinning makes re-ingests of the same corpus
    byte-identical (replayed streaming batches included) and lets
    dashboard panels that filter on created_at anchor to a constant
    instead of the test run's clock (round-6 verdict task 6)."""
    if as_of is None:
        return F.current_timestamp()
    return F.lit(as_of).cast("timestamp")


def default_if_empty(col: Column, default: Column | str) -> Column:
    """P1 — utils.go:16-21 DefaultString: '' or NULL → default."""
    d = F.lit(default) if isinstance(default, str) else default
    return F.coalesce(F.nullif(col, F.lit("")), d)


def epoch_to_ts(col: Column) -> Column:
    """P2 — utils.go:24-30: epoch-seconds string → UTC timestamp
    (NULL when unparseable, which the caller treats as a reject)."""
    return F.timestamp_seconds(col.try_cast("long"))


def lower_or_null(col: Column) -> Column:
    """P4 — parser.go:1183-1196: lowercase, empty → NULL (Go *string nil)."""
    return F.lower(F.nullif(col, F.lit("")))


def sanitize_string(col: Column) -> Column:
    """P14 — utils.go:163-172: strip NUL/control chars (keep \\t \\n \\r), trim."""
    return F.trim(F.regexp_replace(col, "[\\x00\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""))


def normalize_host(col: Column) -> Column:
    """P13 — utils.go:198-210: lowercase + strip trailing dot."""
    return F.regexp_replace(F.lower(col), r"\.$", "")


def strip_to_feedback(xml_text: Column) -> Column:
    """S6 wrapper strip — parser.go:1062-1073: slice from the first
    <feedback> to the last </feedback>, tolerating schema wrappers and
    comment preambles; pass through unchanged when absent."""
    extracted = F.regexp_extract(xml_text, r"(?s)(<feedback>.*</feedback>)", 1)
    return F.when(extracted != "", extracted).otherwise(xml_text)


_MAX_RANGE_SECONDS = 48 * 3600  # parser.go:1174-1176 (tolerates up to 48 h)


def has_bad_record_count(fb: Column) -> Column:
    """True when some record's <count> is present but not an integer."""
    return F.exists(
        F.coalesce(fb["record"], F.array()),
        lambda r: r["row"]["count"].isNotNull() & r["row"]["count"].try_cast("int").isNull(),
    )


def aggregate_validity(fb: Column) -> Column:
    """F1/F2 accept predicate for a parsed <feedback> struct: XML decoded,
    both dates epoch-parseable, end-begin ≤ 48 h, and every record's
    <count> — when present — integer-parseable. The reference fails
    xml.Unmarshal outright on a non-integer count (Go `Count int`,
    parser.go struct decode), rejecting the whole report; silently
    coalescing it to 0 would undercount instead of quarantining."""
    begin = fb["report_metadata"]["date_range"]["begin"].try_cast("long")
    end = fb["report_metadata"]["date_range"]["end"].try_cast("long")
    return (
        fb["_corrupt_record"].isNull()
        & fb["report_metadata"].isNotNull()
        & begin.isNotNull()
        & end.isNotNull()
        & ((end - begin) <= F.lit(_MAX_RANGE_SECONDS))
        & ~has_bad_record_count(fb)
    )


def aggregate_reports_flat(
    parsed: DataFrame, fb: str = "fb", as_of: str | None = None
) -> DataFrame:
    """Parent table projection (clickhouse.go:79-100) with the published-
    policy defaults of parser.go:1145-1152."""
    m = F.col(f"{fb}.report_metadata")
    p = F.col(f"{fb}.policy_published")
    return parsed.select(
        F.coalesce(F.col(f"{fb}.version"), F.lit("")).alias("xml_schema"),
        F.coalesce(m["org_name"], F.lit("")).alias("org_name"),
        F.coalesce(m["email"], F.lit("")).alias("org_email"),
        F.nullif(F.coalesce(m["extra_contact_info"], F.lit("")), F.lit("")).alias(
            "org_extra_contact_info"
        ),
        F.coalesce(m["report_id"], F.lit("")).alias("report_id"),
        epoch_to_ts(m["date_range"]["begin"]).alias("begin_date"),
        epoch_to_ts(m["date_range"]["end"]).alias("end_date"),
        F.coalesce(m["error"], F.array()).alias("errors"),
        F.coalesce(p["domain"], F.lit("")).alias("domain"),
        default_if_empty(p["adkim"], "r").alias("adkim"),
        default_if_empty(p["aspf"], "r").alias("aspf"),
        F.coalesce(p["p"], F.lit("")).alias("p"),
        default_if_empty(p["sp"], F.coalesce(p["p"], F.lit(""))).alias("sp"),
        default_if_empty(p["pct"], "100").alias("pct"),
        default_if_empty(p["fo"], "0").alias("fo"),
        ingest_ts(as_of).alias("created_at"),
    )


def aggregate_records_flat(
    parsed: DataFrame, fb: str = "fb", as_of: str | None = None
) -> DataFrame:
    """Fact table: explode records (P6), apply per-record defaults and
    alignment booleans (parser.go:1179-1266), flatten struct arrays to
    parallel string arrays with 'none' fills (P7, clickhouse.go:286-314).

    Offline enrichment defaults (parser.go:1274-1296): country/type
    'Unknown', reverse_dns/base_domain/name '' — the live enrichment
    joins live in functions.enrich and overwrite these columns.
    """
    m = F.col(f"{fb}.report_metadata")
    rec = F.explode(F.col(f"{fb}.record")).alias("rec")
    ex = parsed.select(
        F.coalesce(m["report_id"], F.lit("")).alias("report_id"),
        F.coalesce(m["org_name"], F.lit("")).alias("org_name"),
        epoch_to_ts(m["date_range"]["begin"]).alias("begin_date"),
        rec,
    )
    row = F.col("rec.row")
    ids = F.col("rec.identifiers")
    pe = row["policy_evaluated"]
    # auth results keep only entries with a non-empty domain (parser.go:1247-1265)
    dkim = F.filter(F.coalesce(F.col("rec.auth_results.dkim"), F.array()), lambda x: x["domain"] != "")
    spf = F.filter(F.coalesce(F.col("rec.auth_results.spf"), F.array()), lambda x: x["domain"] != "")
    reasons = F.coalesce(pe["reason"], F.array())
    spf_eval = default_if_empty(pe["spf"], "fail")
    dkim_eval = default_if_empty(pe["dkim"], "fail")
    spf_aligned = F.lower(spf_eval) == "pass"
    dkim_aligned = F.lower(dkim_eval) == "pass"

    return ex.select(
        "report_id",
        "org_name",
        F.coalesce(row["source_ip"], F.lit("")).alias("source_ip_address"),
        F.lit("Unknown").alias("source_country"),
        F.lit("").alias("source_reverse_dns"),
        F.lit("").alias("source_base_domain"),
        F.lit("").alias("source_name"),
        F.lit("Unknown").alias("source_type"),
        F.coalesce(row["count"].try_cast("int"), F.lit(0)).alias("count"),
        spf_aligned.alias("spf_aligned"),
        dkim_aligned.alias("dkim_aligned"),
        (spf_aligned | dkim_aligned).alias("dmarc_aligned"),
        F.coalesce(pe["disposition"], F.lit("")).alias("disposition"),
        F.transform(reasons, lambda r: F.coalesce(F.nullif(r["type"], F.lit("")), F.lit("none"))).alias(
            "policy_override_reasons"
        ),
        F.transform(
            reasons, lambda r: F.coalesce(F.nullif(r["comment"], F.lit("")), F.lit("none"))
        ).alias("policy_override_comments"),
        lower_or_null(ids["envelope_from"]).alias("envelope_from"),
        F.lower(F.coalesce(ids["header_from"], F.lit(""))).alias("header_from"),
        lower_or_null(ids["envelope_to"]).alias("envelope_to"),
        F.transform(dkim, lambda x: x["domain"]).alias("dkim_domains"),
        F.transform(dkim, lambda x: F.coalesce(F.nullif(x["selector"], F.lit("")), F.lit("none"))).alias(
            "dkim_selectors"
        ),
        F.transform(dkim, lambda x: F.coalesce(F.nullif(x["result"], F.lit("")), F.lit("none"))).alias(
            "dkim_results"
        ),
        F.transform(spf, lambda x: x["domain"]).alias("spf_domains"),
        F.transform(spf, lambda x: F.coalesce(F.nullif(x["scope"], F.lit("")), F.lit("mfrom"))).alias(
            "spf_scopes"
        ),
        F.transform(spf, lambda x: F.coalesce(F.nullif(x["result"], F.lit("")), F.lit("none"))).alias(
            "spf_results"
        ),
        "begin_date",
        ingest_ts(as_of).alias("created_at"),
        # engine-internal extras beyond the ClickHouse 25-column contract:
        # raw policy-evaluated values, needed for the CSV writer's exact
        # dkim_result/spf_result columns (output.go:293-295)
        dkim_eval.alias("policy_eval_dkim"),
        spf_eval.alias("policy_eval_spf"),
    )
