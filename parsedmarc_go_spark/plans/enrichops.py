"""Enrichment / window operators exposed to the correctness gate.

The driver's synthetic tables carry no hostnames or IPs, so these
queries synthesize them deterministically from existing columns
(identically in the oracle SQL) — the point is to put P11 (base-domain
CDN rules), F4 (IP validity), J3 (the GeoIP interval join), and §2.9's
one window function (ReplacingMergeTree keep-latest) through the
hash-compare gate, not to pretend the data is real.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parsedmarc_go_spark.functions.enrich import base_domain, ipv4_to_long
from parsedmarc_go_spark.plans.registry import query
from parsedmarc_go_spark.tables import load

# deterministic fake hostname per document: cycles through plain,
# deep-subdomain, and the CDN special cases of utils.go:116-145
_HOST_EXPR = """
    CASE mod(doc_id, 5)
      WHEN 0 THEN concat('mail.', source, '.example.com')
      WHEN 1 THEN concat('e', CAST(doc_id AS STRING), '.c.akamaiedge.net')
      WHEN 2 THEN concat('d', CAST(doc_id AS STRING), 'x.cloudfront.net')
      WHEN 3 THEN concat('deep.sub.host', CAST(doc_id AS STRING), '.example.org')
      ELSE 'localhost'
    END
"""


@query(
    "p11_base_domain",
    oracle=f"""
    WITH h AS (SELECT doc_id, {_HOST_EXPR} AS host FROM documents)
    SELECT doc_id, host,
           CASE WHEN host IS NULL OR host = '' THEN host
                WHEN len(string_split(host, '.')) < 2 THEN host
                WHEN len(string_split(host, '.')) >= 3
                     AND string_split(host, '.')[-2] = 'akamaiedge'
                  THEN array_to_string(string_split(host, '.')[-3:], '.')
                WHEN len(string_split(host, '.')) >= 3
                     AND array_to_string(string_split(host, '.')[-2:], '.')
                         IN ('cloudfront.net', 'fastly.com', 'herokuapp.com')
                  THEN array_to_string(string_split(host, '.')[-3:], '.')
                ELSE array_to_string(string_split(host, '.')[-2:], '.')
           END AS base_dom
    FROM h
    """,
)
def p11_base_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn("host", F.expr(_HOST_EXPR))
    return docs.select("doc_id", "host", base_domain("host").alias("base_dom"))


# deterministic fake IPv4/garbage per event (valid and invalid paths)
_IP_EXPR = """
    CASE mod(event_id, 4)
      WHEN 0 THEN concat('10.', CAST(mod(user_id, 256) AS STRING), '.0.1')
      WHEN 1 THEN concat('192.168.', CAST(mod(event_id, 256) AS STRING), '.25')
      WHEN 2 THEN concat('300.1.1.', CAST(mod(event_id, 256) AS STRING))
      ELSE 'not-an-ip'
    END
"""

_IP_LONG_SQL = """
    CASE WHEN len(string_split(ip, '.')) = 4
              AND TRY_CAST(string_split(ip, '.')[1] AS BIGINT) BETWEEN 0 AND 255
              AND TRY_CAST(string_split(ip, '.')[2] AS BIGINT) BETWEEN 0 AND 255
              AND TRY_CAST(string_split(ip, '.')[3] AS BIGINT) BETWEEN 0 AND 255
              AND TRY_CAST(string_split(ip, '.')[4] AS BIGINT) BETWEEN 0 AND 255
         THEN TRY_CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
              + TRY_CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
              + TRY_CAST(string_split(ip, '.')[3] AS BIGINT) * 256
              + TRY_CAST(string_split(ip, '.')[4] AS BIGINT)
         ELSE NULL END
"""


@query(
    "f4_ip_validity",
    oracle=f"""
    WITH e AS (SELECT event_id, {_IP_EXPR} AS ip FROM events)
    SELECT event_id, ip,
           {_IP_LONG_SQL} AS ip_long,
           ({_IP_LONG_SQL}) IS NOT NULL AS is_valid
    FROM e
    """,
)
def f4_ip_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — utils.go:148-150 IsValidIPAddress, via the int64 conversion
    the GeoIP join uses (IPv4 subset; IPv6 returns NULL/invalid)."""
    ev = load(spark, sf_dir, "events").withColumn("ip", F.expr(_IP_EXPR))
    ip_long = ipv4_to_long("ip")
    return ev.select("event_id", "ip", ip_long.alias("ip_long"), ip_long.isNotNull().alias("is_valid"))


@query(
    "j3b_geoip_range_join",
    oracle=f"""
    WITH e AS (SELECT event_id, {_IP_EXPR} AS ip FROM events),
    el AS (SELECT event_id, {_IP_LONG_SQL} AS ip_long FROM e),
    geo(start_ip, end_ip, country) AS (
      VALUES (CAST(167772160 AS BIGINT), CAST(184549375 AS BIGINT), 'US'),
             (CAST(3232235520 AS BIGINT), CAST(3232301055 AS BIGINT), 'DE')
    )
    SELECT COALESCE(g.country, 'Unknown') AS country, COUNT(*) AS n_events
    FROM el LEFT JOIN geo g ON el.ip_long >= g.start_ip AND el.ip_long <= g.end_ip
    GROUP BY 1
    """,
)
def j3b_geoip_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/P9 — the actual GeoIP shape: IP string → int64 → broadcast
    interval join against a prefix dim (10.0.0.0/8 → US,
    192.168.0.0/16 → DE), misses → 'Unknown' (parser.go:1274-1277)."""
    from parsedmarc_go_spark.functions.enrich import geoip_enrich

    from parsedmarc_go_spark.tables import spread_scan

    # spread the raw events first (tables.spread_scan): the per-row IP
    # synthesis + parse is the CPU phase, and the sf1 single-file scan
    # under-parallelizes it (4 straggler-bound tasks; row-group-bound,
    # so file-split tuning cannot help) — measured 3.5 -> 1.4 s warm
    ev = spread_scan(load(spark, sf_dir, "events"), "event_id").withColumn(
        "ip", F.expr(_IP_EXPR)
    )
    # VALUES, not createDataFrame: a literal dim via createDataFrame
    # pays a Python->RDD pickle round trip (~0.8 s of pure fixed cost
    # per query); an inline VALUES relation parses JVM-side in ms
    dim = spark.sql(
        "SELECT * FROM VALUES (167772160L, 184549375L, 'US'),"
        " (3232235520L, 3232301055L, 'DE') AS geo(start_ip, end_ip, country)"
    )
    enriched = geoip_enrich(ev, dim, ip_col="ip", out_col="country")
    return enriched.groupBy("country").agg(F.count("*").alias("n_events"))


# dual-stack synthetic: v4, v6 (one /32 hit + one fc00::/7 hit), and
# garbage rows — exercises both geo join paths and the Unknown fill
_IP6_EXPR = """
    CASE mod(event_id, 5)
      WHEN 0 THEN concat('10.', CAST(mod(user_id, 256) AS STRING), '.0.1')
      WHEN 1 THEN concat('192.168.', CAST(mod(event_id, 256) AS STRING), '.25')
      WHEN 2 THEN concat('2001:db8::', lower(hex(mod(event_id, 65536))))
      WHEN 3 THEN concat('fd00:12::', lower(hex(mod(user_id, 65536))))
      ELSE 'not-an-ip'
    END
"""


def _hilo_literals(cidr: str) -> str:
    """(start_hi, start_lo, end_hi, end_lo) sign-biased SQL literals for
    one CIDR — computed at plan-build time, matching with_ip_hilo."""
    import ipaddress

    from parsedmarc_go_spark.functions.enrichdims import _biased_halves

    n = ipaddress.ip_network(cidr)
    parts = _biased_halves(int(n[0])) + _biased_halves(int(n[-1]))
    return ", ".join(f"{v}L" for v in parts)


@query(
    "j3c_geoip6_range_join",
    # Full hash oracle (round-6, promoted from rows-only): DuckDB's
    # UHUGEINT carries the whole 128-bit address space, so the oracle
    # derives each synthetic row's address VALUE independently from the
    # generator arithmetic (no string parse — a parse bug on the Spark
    # side shifts rows between countries and breaks the hash) and joins
    # plain BETWEEN against the same four intervals. v4 values (< 2^32)
    # and v6 values (>= 2^96) cannot cross-match, so one interval table
    # serves both families.
    oracle=f"""
    WITH lab AS (
      SELECT event_id,
             CASE mod(event_id, 5)
               WHEN 0 THEN CAST(10 * 16777216 + mod(user_id, 256) * 65536 + 1 AS UHUGEINT)
               WHEN 1 THEN CAST(3232235520 + mod(event_id, 256) * 256 + 25 AS UHUGEINT)
               WHEN 2 THEN CAST('42540766411282592856903984951653826560' AS UHUGEINT)
                           + CAST(mod(event_id, 65536) AS UHUGEINT)
               WHEN 3 THEN CAST('336294684359690641101421262934718283776' AS UHUGEINT)
                           + CAST(mod(user_id, 65536) AS UHUGEINT)
               ELSE NULL
             END AS addr
      FROM events),
    geo(s, e, c) AS (VALUES
      (CAST(167772160 AS UHUGEINT), CAST(184549375 AS UHUGEINT), 'US'),
      (CAST(3232235520 AS UHUGEINT), CAST(3232301055 AS UHUGEINT), 'DE'),
      (CAST('42540766411282592856903984951653826560' AS UHUGEINT),
       CAST('42540766490510755371168322545197776895' AS UHUGEINT), 'US6'),
      (CAST('336294684359690641101421262934718283776' AS UHUGEINT),
       CAST('336294684438918803615685600528262234111' AS UHUGEINT), 'PRIVATE'))
    SELECT COALESCE(g.c, 'Unknown') AS country, COUNT(*) AS n_events
    FROM lab LEFT JOIN geo g ON lab.addr BETWEEN g.s AND g.e
    GROUP BY 1
    """,
)
def j3c_geoip6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/P9 dual-stack: the reference geo-locates IPv6 sources exactly
    like IPv4 (geoip2 lookups are protocol-agnostic, utils.go:41-56).
    IPv4 rows route through geoip_enrich's 32-bit bucketed join, IPv6
    rows through geoip_enrich6's (hi, lo) 128-bit bucketed join, then
    union — each side a broadcast HASH equi-join on its bucket key, so
    the fact table never shuffles and neither dim is nested-loop
    scanned. Parse parity is additionally pinned against Python's
    ipaddress module and a binary-trie v6 MMDB fixture in
    tests/test_ipv6.py."""
    from parsedmarc_go_spark.functions.enrich import geoip_enrich, geoip_enrich6

    from parsedmarc_go_spark.tables import spread_scan

    # same raw-row spread as j3b — the v6 parse path is heavier still
    ev = spread_scan(load(spark, sf_dir, "events"), "event_id").withColumn(
        "ip", F.expr(_IP6_EXPR)
    )
    dim4 = spark.sql(
        "SELECT * FROM VALUES (167772160L, 184549375L, 'US'),"
        " (3232235520L, 3232301055L, 'DE') AS geo(start_ip, end_ip, country)"
    )
    # realistic leaf-granularity prefixes: MMDB leaf networks are fine
    # (>= /29); a coarse prefix like fc00::/7 would explode to 2^17
    # bucket rows at /24 bucketing — that belongs in an aggregated dim,
    # not a leaf dim
    dim6 = spark.sql(
        f"SELECT * FROM VALUES ({_hilo_literals('2001:db8::/32')}, 'US6'),"
        f" ({_hilo_literals('fd00:12::/32')}, 'PRIVATE')"
        " AS geo(start_hi, start_lo, end_hi, end_lo, country)"
    )
    v4 = geoip_enrich(ev.filter(~F.col("ip").contains(":")), dim4, "ip", "country")
    v6 = geoip_enrich6(ev.filter(F.col("ip").contains(":")), dim6, "ip", "country")
    return (
        v4.select("event_id", "country")
        .unionByName(v6.select("event_id", "country"))
        .groupBy("country")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "w1_latest_by_key",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id, ts, event_type, value
    FROM ranked WHERE rn = 1
    """,
)
def w1_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — the engine's one window function: ReplacingMergeTree
    keep-latest semantics (docs/clickhouse.md:257-276), deterministic
    tie-break on event_id."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    # NO raw-row spread here (round 14 A/B, interleaved + warm): the
    # keep-latest window is not CPU-bound per row, and the extra
    # exchange measured a net LOSS at BOTH SFs (sf0.1 0.31→0.47 s,
    # sf1 1.26→2.20 s median) — the r13 "straggler-bound" reading was
    # session-order noise. The WindowGroupLimit partial already prunes
    # each scan partition to one row per key before the user_id
    # shuffle, so the plan is shuffle-minimal as-is; spread_scan stays
    # reserved for CPU-heavy expression pipelines (j3b/j3c IP parse)
    # where the same A/B shows a 2-1.8× sf1 win.
    return (
        load(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


# F5 — validation predicate suite (validator.go:191-254): email/domain
# regexes, policy enum, report-id rules, over synthesized dirty inputs
# (every branch exercised). Regex classes chosen to behave identically
# under Java regex and RE2.
@query(
    "f5_validation_suite",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE mod(doc_id, 3) WHEN 0 THEN concat('user@', source, '.com')
                  WHEN 1 THEN concat('bad@@', source) ELSE '' END AS email,
             CASE mod(doc_id, 3) WHEN 0 THEN concat(source, '.example.com')
                  WHEN 1 THEN concat('-bad-.', source) ELSE 'nodots' END AS domain,
             CASE mod(doc_id, 4) WHEN 0 THEN 'none' WHEN 1 THEN 'quarantine'
                  WHEN 2 THEN 'reject' ELSE 'Invalid' END AS policy,
             CASE mod(doc_id, 3) WHEN 0 THEN concat('rid-', CAST(doc_id AS VARCHAR))
                  WHEN 1 THEN concat('bad;<script>', CAST(doc_id AS VARCHAR))
                  ELSE repeat('x', 300) END AS report_id
      FROM documents)
    SELECT doc_id,
           regexp_full_match(email, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}') AS email_ok,
           domain <> '' AND regexp_full_match(domain,
             '([a-zA-Z0-9]([a-zA-Z0-9\\-]{0,61}[a-zA-Z0-9])?\\.)+[a-zA-Z]{2,}') AS domain_ok,
           policy IN ('none', 'quarantine', 'reject') AS policy_ok,
           report_id <> '' AND len(report_id) <= 255
             AND NOT regexp_matches(report_id, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f<>"''`;]') AS report_id_ok
    FROM t
    """,
)
def f5_validation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parsedmarc_go_spark.functions.validation import (
        is_valid_domain,
        is_valid_email,
        is_valid_policy,
        is_valid_report_id,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CASE mod(doc_id, 3) WHEN 0 THEN concat('user@', source, '.com') "
            "WHEN 1 THEN concat('bad@@', source) ELSE '' END"
        ).alias("email"),
        F.expr(
            "CASE mod(doc_id, 3) WHEN 0 THEN concat(source, '.example.com') "
            "WHEN 1 THEN concat('-bad-.', source) ELSE 'nodots' END"
        ).alias("domain"),
        F.expr(
            "CASE mod(doc_id, 4) WHEN 0 THEN 'none' WHEN 1 THEN 'quarantine' "
            "WHEN 2 THEN 'reject' ELSE 'Invalid' END"
        ).alias("policy"),
        F.expr(
            "CASE mod(doc_id, 3) WHEN 0 THEN concat('rid-', CAST(doc_id AS STRING)) "
            "WHEN 1 THEN concat('bad;<script>', CAST(doc_id AS STRING)) "
            "ELSE repeat('x', 300) END"
        ).alias("report_id"),
    )
    return docs.select(
        "doc_id",
        is_valid_email(F.col("email")).alias("email_ok"),
        is_valid_domain(F.col("domain")).alias("domain_ok"),
        is_valid_policy(F.col("policy")).alias("policy_ok"),
        is_valid_report_id(F.col("report_id")).alias("report_id_ok"),
    )
