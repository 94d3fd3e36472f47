"""Normalization layer (SURVEY P1-P8, P13-P22, F1-F2): RFC-mandated
defaults, epoch decoding, lower-casing, alignment derivation, record
explode, struct-array → parallel-array flattening.

Every flat table is a list of SQL-text projections ("<sql> AS
<column>") applied with one `selectExpr`, and the validity predicate
and reject reason are SQL text too. The driver hands Spark one string
per column instead of assembling each expression from a chain of py4j
calls, and the parsed expressions still run in whole-stage codegen.
The only value from outside the program, the pinned ingest clock,
enters the plan as one bound column (`ingest_ts`) that the projections
read as `__ingest_ts`; it is never spliced into SQL text.

Semantics mirror the reference parse pass
(internal/parser/parser.go:1137-1266) and the store-time flatten
(internal/storage/clickhouse/clickhouse.go:270-351).
"""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

AS_OF_FORMAT = "yyyy-MM-dd HH:mm:ss"
# the forms both Spark's string → timestamp cast and datetime accept:
# a date, optionally a time with fraction, optionally a zone
_AS_OF_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}(?:[ T]\d{2}:\d{2}:\d{2}(?:\.\d{1,6})?(?:Z|[+-]\d{2}:\d{2})?)?"
)

INGEST_TS = "__ingest_ts"


def check_as_of(as_of: str) -> str:
    """Return `as_of` if it is a timestamp the ingest clock can pin, else
    raise ValueError naming the expected form — before any Spark job,
    instead of a cast error from inside the first one."""
    ok = _AS_OF_RE.fullmatch(as_of) is not None
    if ok:
        try:
            datetime.fromisoformat(as_of.replace("Z", "+00:00"))
        except ValueError:
            ok = False
    if not ok:
        raise ValueError(f"as_of must be a timestamp like {AS_OF_FORMAT!r}, got {as_of!r}")
    return as_of


def ingest_ts(as_of: str | None = None) -> Column:
    """P21 — the INJECTABLE ingest clock behind every `created_at` /
    arrival-date fallback. Wall clock (`current_timestamp()`) by
    default, a pinned literal when `as_of` is given ('yyyy-MM-dd
    HH:mm:ss'; ValueError otherwise). Pinning makes re-ingests of the
    same corpus byte-identical (replayed streaming batches included)
    and lets dashboard panels that filter on created_at anchor to a
    constant instead of the test run's clock (round-6 verdict task 6)."""
    if as_of is None:
        return F.current_timestamp()
    return F.lit(check_as_of(as_of)).cast("timestamp")


def with_ingest_ts(df: DataFrame, as_of: str | None = None) -> DataFrame:
    """`df` plus the ingest clock as the `__ingest_ts` column the SQL
    projections read."""
    return df.select("*", ingest_ts(as_of).alias(INGEST_TS))


def sanitize_string(col: Column) -> Column:
    """P14 — utils.go:163-172: strip NUL/control chars (keep \\t \\n \\r), trim."""
    return F.trim(F.regexp_replace(col, "[\\x00\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""))


def normalize_host(col: Column) -> Column:
    """P13 — utils.go:198-210: lowercase + strip trailing dot."""
    return F.regexp_replace(F.lower(col), r"\.$", "")


# S6 wrapper strip — parser.go:1062-1073: slice from the first
# <feedback> to the last </feedback>, tolerating schema wrappers and
# comment preambles; pass through unchanged when absent
_FEEDBACK = "regexp_extract(payload, '(?s)(<feedback>.*</feedback>)', 1)"
STRIP_TO_FEEDBACK = f"CASE WHEN {_FEEDBACK} != '' THEN {_FEEDBACK} ELSE payload END"

_MAX_RANGE_SECONDS = 48 * 3600  # parser.go:1174-1176 (tolerates up to 48 h)

# P2 — utils.go:24-30: epoch-seconds strings; NULL when unparseable,
# which the validity gate treats as a reject
_BEGIN = "try_cast(fb.report_metadata.date_range.begin AS BIGINT)"
_END = "try_cast(fb.report_metadata.date_range.end AS BIGINT)"

# some record's <count> is present but not an integer
BAD_RECORD_COUNT = (
    "exists(coalesce(fb.record, array()),"
    " r -> r.row.count IS NOT NULL AND try_cast(r.row.count AS INT) IS NULL)"
)

# F1/F2 accept predicate over a parsed <feedback> struct `fb`: XML
# decoded, both dates epoch-parseable, end-begin ≤ 48 h, and every
# record's <count> — when present — integer-parseable. The reference
# fails xml.Unmarshal outright on a non-integer count (Go `Count int`,
# parser.go struct decode), rejecting the whole report; silently
# coalescing it to 0 would undercount instead of quarantining.
AGGREGATE_VALID = (
    "fb._corrupt_record IS NULL AND fb.report_metadata IS NOT NULL"
    f" AND {_BEGIN} IS NOT NULL AND {_END} IS NOT NULL"
    f" AND {_END} - {_BEGIN} <= {_MAX_RANGE_SECONDS}"
    f" AND NOT {BAD_RECORD_COUNT}"
)

# why a report failed AGGREGATE_VALID, first cause first
AGGREGATE_REJECT_REASON = (
    "CASE WHEN fb._corrupt_record IS NOT NULL THEN 'xml parse failed'"
    f" WHEN {_BEGIN} IS NULL OR {_END} IS NULL THEN 'invalid date range'"
    f" WHEN {BAD_RECORD_COUNT} THEN 'invalid record count'"
    " ELSE 'time span > 24 hours - RFC 7489 section 7.2' END"
)

# Parent table projection (clickhouse.go:79-100) with the published-
# policy defaults of parser.go:1145-1152 (P1: '' or NULL → default)
AGGREGATE_REPORT_COLUMNS = (
    "coalesce(fb.version, '') AS xml_schema",
    "coalesce(fb.report_metadata.org_name, '') AS org_name",
    "coalesce(fb.report_metadata.email, '') AS org_email",
    "nullif(coalesce(fb.report_metadata.extra_contact_info, ''), '') AS org_extra_contact_info",
    "coalesce(fb.report_metadata.report_id, '') AS report_id",
    f"timestamp_seconds({_BEGIN}) AS begin_date",
    f"timestamp_seconds({_END}) AS end_date",
    "coalesce(fb.report_metadata.error, array()) AS errors",
    "coalesce(fb.policy_published.domain, '') AS domain",
    "coalesce(nullif(fb.policy_published.adkim, ''), 'r') AS adkim",
    "coalesce(nullif(fb.policy_published.aspf, ''), 'r') AS aspf",
    "coalesce(fb.policy_published.p, '') AS p",
    "coalesce(nullif(fb.policy_published.sp, ''), coalesce(fb.policy_published.p, '')) AS sp",
    "coalesce(nullif(fb.policy_published.pct, ''), '100') AS pct",
    "coalesce(nullif(fb.policy_published.fo, ''), '0') AS fo",
    f"{INGEST_TS} AS created_at",
)

_RECORD_EXPLODE = (
    "coalesce(fb.report_metadata.report_id, '') AS report_id",
    "coalesce(fb.report_metadata.org_name, '') AS org_name",
    f"timestamp_seconds({_BEGIN}) AS begin_date",
    INGEST_TS,
    "explode(fb.record) AS rec",
)

_SPF_EVAL = "coalesce(nullif(rec.row.policy_evaluated.spf, ''), 'fail')"
_DKIM_EVAL = "coalesce(nullif(rec.row.policy_evaluated.dkim, ''), 'fail')"
_SPF_ALIGNED = f"lower({_SPF_EVAL}) = 'pass'"
_DKIM_ALIGNED = f"lower({_DKIM_EVAL}) = 'pass'"
_REASONS = "coalesce(rec.row.policy_evaluated.reason, array())"
# auth results keep only entries with a non-empty domain (parser.go:1247-1265)
_DKIM = "filter(coalesce(rec.auth_results.dkim, array()), x -> x.domain != '')"
_SPF = "filter(coalesce(rec.auth_results.spf, array()), x -> x.domain != '')"

# Fact table: per-record defaults and alignment booleans
# (parser.go:1179-1266), struct arrays flattened to parallel string
# arrays with 'none' fills (P7, clickhouse.go:286-314). Offline
# enrichment defaults (parser.go:1274-1296): country/type 'Unknown',
# reverse_dns/base_domain/name '' — functions.enrich overwrites them.
AGGREGATE_RECORD_COLUMNS = (
    "report_id",
    "org_name",
    "coalesce(rec.row.source_ip, '') AS source_ip_address",
    "'Unknown' AS source_country",
    "'' AS source_reverse_dns",
    "'' AS source_base_domain",
    "'' AS source_name",
    "'Unknown' AS source_type",
    "coalesce(try_cast(rec.row.count AS INT), 0) AS count",
    f"{_SPF_ALIGNED} AS spf_aligned",
    f"{_DKIM_ALIGNED} AS dkim_aligned",
    f"{_SPF_ALIGNED} OR {_DKIM_ALIGNED} AS dmarc_aligned",
    "coalesce(rec.row.policy_evaluated.disposition, '') AS disposition",
    f"transform({_REASONS}, r -> coalesce(nullif(r.type, ''), 'none')) AS policy_override_reasons",
    f"transform({_REASONS}, r -> coalesce(nullif(r.comment, ''), 'none'))"
    " AS policy_override_comments",
    # P4 — parser.go:1183-1196: lowercase, empty → NULL (Go *string nil)
    "lower(nullif(rec.identifiers.envelope_from, '')) AS envelope_from",
    "lower(coalesce(rec.identifiers.header_from, '')) AS header_from",
    "lower(nullif(rec.identifiers.envelope_to, '')) AS envelope_to",
    f"transform({_DKIM}, x -> x.domain) AS dkim_domains",
    f"transform({_DKIM}, x -> coalesce(nullif(x.selector, ''), 'none')) AS dkim_selectors",
    f"transform({_DKIM}, x -> coalesce(nullif(x.result, ''), 'none')) AS dkim_results",
    f"transform({_SPF}, x -> x.domain) AS spf_domains",
    f"transform({_SPF}, x -> coalesce(nullif(x.scope, ''), 'mfrom')) AS spf_scopes",
    f"transform({_SPF}, x -> coalesce(nullif(x.result, ''), 'none')) AS spf_results",
    "begin_date",
    f"{INGEST_TS} AS created_at",
    # engine-internal extras beyond the ClickHouse 25-column contract:
    # raw policy-evaluated values, needed for the CSV writer's exact
    # dkim_result/spf_result columns (output.go:293-295)
    f"{_DKIM_EVAL} AS policy_eval_dkim",
    f"{_SPF_EVAL} AS policy_eval_spf",
)


def aggregate_reports_flat(parsed: DataFrame, as_of: str | None = None) -> DataFrame:
    """Parent table over a frame carrying the parsed <feedback> struct
    as `fb`."""
    return with_ingest_ts(parsed, as_of).selectExpr(*AGGREGATE_REPORT_COLUMNS)


def aggregate_records_flat(parsed: DataFrame, as_of: str | None = None) -> DataFrame:
    """Fact table over a frame carrying the parsed <feedback> struct as
    `fb`: one row per record (P6)."""
    return (
        with_ingest_ts(parsed, as_of)
        .selectExpr(*_RECORD_EXPLODE)
        .selectExpr(*AGGREGATE_RECORD_COLUMNS)
    )
