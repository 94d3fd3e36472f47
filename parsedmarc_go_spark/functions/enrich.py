"""Enrichment layer (SURVEY P9-P12, J2/J3): GeoIP country, base-domain
extraction, sender classification.

The reference does per-row network lookups (MaxMind reader + PTR
queries, utils.go:41-113) guarded by an offline flag (config.go:30-37).
At Spark scale the same semantics become joins against dimension
tables:

- GeoIP: a (start_ip_int, end_ip_int, country) prefix dim, broadcast
  non-equi range join — the one non-equi join in the system (SURVEY J3).
- Sender classification: a (base_reverse_dns, name, type) map (the
  reference ships 1,794 rows), broadcast left join with Unknown fill
  (SURVEY J2).
- Reverse DNS itself is inherently a network side-effect; it stays an
  external batch step that lands a (ip, hostname) dim — the engine
  consumes the dim. Offline mode (the default) skips it, exactly like
  the reference.

The dims are prepared once per `EnrichmentContext`: on first use the
bucket-exploded GeoIP dims and the lower-cased sender map are
persisted, and every later batch joins those cached frames. The fact
side of each join is SQL text applied with one `selectExpr`, and
`base_domain` / `ipv4_to_long` take the SQL text of the column they
read (usually its name), so the driver builds a batch's enrichment in
a handful of py4j calls.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _base_domain_sql(e: str) -> str:
    parts = f"split({e}, '\\\\.')"
    n = f"size({parts})"

    def p(i: int) -> str:
        # try_element_at: CASE branches are not reliably short-circuited
        # under ANSI mode, so out-of-range element_at would throw
        return f"try_element_at({parts}, {i})"

    last2 = f"concat_ws('.', {p(-2)}, {p(-1)})"
    last3 = f"concat_ws('.', {p(-3)}, {p(-2)}, {p(-1)})"
    return (
        f"CASE WHEN {e} IS NULL OR {e} = '' THEN {e} WHEN {n} < 2 THEN {e}"
        f" WHEN {n} >= 3 AND {p(-2)} = 'akamaiedge' THEN {last3}"
        f" WHEN {n} >= 3 AND {last2} IN ('cloudfront.net', 'fastly.com', 'herokuapp.com')"
        f" THEN {last3} ELSE {last2} END"
    )


def base_domain(e: str) -> Column:
    """P11 — utils.go:116-145: last two labels of the host that SQL
    text `e` evaluates to, with CDN special cases: akamaiedge (3 labels
    keyed on 2nd-to-last label), cloudfront/fastly/herokuapp (3
    labels). One SQL expression over split()."""
    return F.expr(_base_domain_sql(e))


def _ipv4_to_long_sql(e: str) -> str:
    # try_element_at: ANSI mode errors on out-of-bounds element_at, and
    # CASE does not short-circuit evaluation of the other branch
    o = [f"try_cast(try_element_at(split({e}, '\\\\.'), {i}) AS BIGINT)" for i in (1, 2, 3, 4)]
    ok = " AND ".join([f"size(split({e}, '\\\\.')) = 4", *(f"{x} BETWEEN 0 AND 255" for x in o)])
    return f"CASE WHEN {ok} THEN {o[0]} * 16777216 + {o[1]} * 65536 + {o[2]} * 256 + {o[3]} END"


def ipv4_to_long(e: str) -> Column:
    """Dotted-quad IPv4 that SQL text `e` evaluates to → int64 (NULL
    for malformed/IPv6), for the GeoIP range join."""
    return F.expr(_ipv4_to_long_sql(e))


def _q(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _in_place(columns: list[str], replace: dict[str, str]) -> list[str]:
    """withColumn's semantics as one select list: `columns` in order,
    each name in `replace` computed by its SQL in place, names new to
    `columns` appended in `replace` order."""
    rest = dict(replace)
    out = [f"{rest.pop(c)} AS {_q(c)}" if c in rest else _q(c) for c in columns]
    return out + [f"{sql} AS {_q(c)}" for c, sql in rest.items()]


V4_BUCKET_BITS = 16  # geoip_enrich's default bucket width
V6_BUCKET_BITS = 24  # geoip_enrich6's

# sign-bit flip: maps unsigned 64-bit order onto signed int64 order, so
# (hi, lo) lexicographic comparisons in the IPv6 interval join are
# correct even for addresses with the top bit set
_SIGN = -(1 << 63)


def _bias(c: Column) -> Column:
    return c.bitwiseXOR(F.lit(_SIGN))


# net.ParseIP-strict dotted quad: 0-255 per octet, no leading zeros
# (ipv4_to_long above stays permissive — its semantics are pinned by the
# f4_ip_validity oracle; this stricter form is the ParseIP-parity path)
_V4_OCTET = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
_V4_STRICT_RE = rf"^({_V4_OCTET}\.){{3}}{_V4_OCTET}$"
_HEX_GROUP_RE = "^[0-9A-Fa-f]{1,4}$"


def with_ip_hilo(df: DataFrame, ip_col: str, out_col: str = "__ip_hilo") -> DataFrame:
    """Parse IPv4/IPv6 strings into a sortable 128-bit key: adds
    ``out_col`` as struct<hi: long, lo: long> (sign-biased, so signed
    (hi, lo) lexicographic order == unsigned address order), NULL for
    anything net.ParseIP (utils.go:148-150) would reject. IPv4 maps to
    hi=0 — the ::/96 embedding the MMDB walker's IPv4 subtree uses.

    Grammar parity with Go's ParseIP / Python's ipaddress (pinned by
    tests/test_ipv6.py against the ipaddress module): '::' at most once
    and expanding >=1 group, 1-4 hex digits per group, optional dotted
    quad occupying the final two groups, strict 0-255 no-leading-zero
    octets, no zone suffixes.

    Built as a chain of narrow projections (not one giant Column): the
    split/regexp intermediates are non-cheap, so CollapseProject keeps
    them as stages and whole-stage codegen evaluates each ONCE per row
    instead of once per reference. All JVM-side — no UDF."""
    # regexp strip, not F.trim: trim removes only ' ' while the
    # whitespace-tolerance contract (and the test oracle's .strip())
    # covers tabs/newlines too
    s_sql = f"regexp_replace({ip_col}, '^\\\\s+|\\\\s+$', '')"
    s = F.expr(s_sql)
    v4 = F.when(s.rlike(_V4_STRICT_RE), ipv4_to_long(s_sql))
    # a trailing dotted quad ("::ffff:1.2.3.4") is rewritten into its
    # two hex groups; a malformed splice ("::ffff1.2.3.4") simply yields
    # a >4-hex-digit group that fails validation below — no special case
    tail = F.regexp_extract(s, r"((?:[0-9]{1,3}\.){3}[0-9]{1,3})$", 1)
    prefix = s.substr(F.lit(1), F.length(s) - F.length(F.col("__t")))
    hexed = F.when(
        (F.col("__t") != "") & F.col("__t").rlike(_V4_STRICT_RE),
        F.concat(
            prefix,
            F.hex(F.shiftright(ipv4_to_long("__t"), 16)),
            F.lit(":"),
            F.hex(ipv4_to_long("__t").bitwiseAND(F.lit(65535))),
        ),
    ).otherwise(s)

    parts = F.split(F.col("__hexed"), "::", -1)
    grp = lambda side: F.when(side == "", F.array().cast("array<string>")).otherwise(  # noqa: E731
        F.split(side, ":")
    )
    out = (
        df.withColumn("__t", tail)
        .withColumn("__hexed", hexed)
        .withColumn("__parts", parts)
        .withColumn("__lg", grp(F.element_at(F.col("__parts"), 1)))
        .withColumn(
            "__rg",
            F.when(F.size(F.col("__parts")) == 2, grp(F.element_at(F.col("__parts"), 2)))
            .when(F.size(F.col("__parts")) == 1, F.array().cast("array<string>")),
        )
        .withColumn(
            "__g8",
            F.concat(
                F.col("__lg"),
                F.when(
                    F.size(F.col("__parts")) == 2,
                    # greatest(0, …): ANSI mode + when()'s non-short-circuit
                    # evaluation means a negative repeat count would error
                    # for over-long invalid inputs before ok6 rejects them
                    F.array_repeat(
                        F.lit("0"),
                        F.greatest(
                            F.lit(0), 8 - F.size(F.col("__lg")) - F.size(F.col("__rg"))
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
                F.col("__rg"),
            ),
        )
    )
    n_named = F.size(F.col("__lg")) + F.size(F.col("__rg"))
    ok6 = (
        F.col(ip_col).contains(":")
        & s.rlike("^[0-9A-Fa-f:.]+$")
        # '.' must have been consumed by the dotted-quad rewrite
        & ~F.col("__hexed").contains(".")
        & (F.size(F.col("__parts")) <= 2)
        # no '::' -> exactly 8 groups; with '::' -> at most 7 named
        & F.when(F.size(F.col("__parts")) == 2, n_named <= 7).otherwise(n_named == 8)
        & F.forall(F.col("__g8"), lambda g: g.rlike(_HEX_GROUP_RE))
    )

    def word(i: int) -> Column:
        # try_element_at + a '0' fallback for non-hex garbage: both run
        # on EVERY row (when() evaluates all branches), so out-of-bounds
        # access or conv() on junk would throw under ANSI mode even for
        # rows ok6 already rejected
        g = F.try_element_at(F.col("__g8"), F.lit(i + 1))
        return F.conv(F.when(g.rlike(_HEX_GROUP_RE), g).otherwise("0"), 16, 10).cast("long")

    def pack(a: int) -> Column:  # groups a..a+3 -> one 64-bit half
        return (
            F.shiftleft(word(a), 48)
            .bitwiseOR(F.shiftleft(word(a + 1), 32))
            .bitwiseOR(F.shiftleft(word(a + 2), 16))
            .bitwiseOR(word(a + 3))
        )

    hilo = (
        F.when(v4.isNotNull(), F.struct(_bias(F.lit(0)).alias("hi"), _bias(v4).alias("lo")))
        .when(ok6, F.struct(_bias(pack(0)).alias("hi"), _bias(pack(4)).alias("lo")))
        .otherwise(F.lit(None).cast("struct<hi:long,lo:long>"))
    )
    return out.withColumn(out_col, hilo).drop("__t", "__hexed", "__parts", "__lg", "__rg", "__g8")


def _geo_extras(extra_cols: dict[str, str]) -> tuple[list[str], dict[str, str]]:
    """Dim-side aliases of the extra GeoIP fields and their fact-side
    fills ('' on a miss)."""
    dim_side = [f"{_q(src)} AS {_q('__geo_x_' + src)}" for src in extra_cols]
    fact_side = {dst: f"coalesce({_q('__geo_x_' + src)}, '')" for src, dst in extra_cols.items()}
    return dim_side, fact_side


def _v6_bucket_dim(geo_dim6: DataFrame, shift: int, extra_cols: dict[str, str]) -> DataFrame:
    """The 128-bit dim under internal names, one row per top-of-hi
    bucket each interval spans."""
    return geo_dim6.selectExpr(
        "start_hi AS __shi",
        "start_lo AS __slo",
        "end_hi AS __ehi",
        "end_lo AS __elo",
        "country AS __geo_country",
        *_geo_extras(extra_cols)[0],
        f"explode(sequence(shiftright(start_hi, {shift}), shiftright(end_hi, {shift})))"
        " AS __geo_bkt",
    )


def _v6_join(df: DataFrame, dim: DataFrame, ip_col: str, out_col: str, shift: int,
             extra_cols: dict[str, str]) -> DataFrame:
    fact = with_ip_hilo(df, ip_col, "__hilo")
    hit = (
        f"shiftright(__hilo.hi, {shift}) = __geo_bkt"
        " AND (__hilo.hi > __shi OR (__hilo.hi = __shi AND __hilo.lo >= __slo))"
        " AND (__hilo.hi < __ehi OR (__hilo.hi = __ehi AND __hilo.lo <= __elo))"
    )
    joined = fact.join(F.broadcast(dim), F.expr(hit), "left")
    fill = {out_col: "coalesce(__geo_country, 'Unknown')", **_geo_extras(extra_cols)[1]}
    return joined.selectExpr(*_in_place(df.columns, fill))


def geoip_enrich6(
    df: DataFrame,
    geo_dim6: DataFrame,
    ip_col: str = "source_ip_address",
    out_col: str = "source_country",
    bucket_bits: int = V6_BUCKET_BITS,
    extra_cols: dict[str, str] | None = None,
) -> DataFrame:
    """IPv6 counterpart of geoip_enrich: interval lookup against a
    (start_hi, start_lo, end_hi, end_lo, country, …) dim of sign-biased
    64-bit halves, as a bucketed broadcast HASH join.

    Scale shape mirrors the IPv4 path: each dim interval explodes to
    the ``bucket_bits``-bit top-of-hi buckets it spans, the join is a
    broadcast equi-join on the fact's bucket with the 128-bit range
    check as a residual predicate. With /24 buckets a coarse RIR /12
    allocation explodes to 4K rows while typical /32-/64 GeoIP leaves
    stay at one row each, so the exploded dim stays broadcastable.
    Route ONLY ':'-containing addresses here: IPv4-embedded rows all
    share hi=0, which would funnel the whole v4 dim into one bucket —
    v4 facts belong to geoip_enrich's 32-bit bucketing (see the routed
    union in plans/enrichops.j3c_geoip6_range_join)."""
    shift = 64 - bucket_bits
    extra_cols = extra_cols or {}
    dim = _v6_bucket_dim(geo_dim6, shift, extra_cols)
    return _v6_join(df, dim, ip_col, out_col, shift, extra_cols)


def _v4_bucket_dim(geo_dim: DataFrame, shift: int, extra_cols: dict[str, str]) -> DataFrame:
    """The (start_ip, end_ip, country, …) dim under internal names (so
    an output column may share a dim column's name), one row per
    bucket each interval spans."""
    return geo_dim.selectExpr(
        "start_ip AS __geo_lo",
        "end_ip AS __geo_hi",
        "country AS __geo_country",
        *_geo_extras(extra_cols)[0],
        f"explode(sequence(shiftright(start_ip, {shift}), shiftright(end_ip, {shift})))"
        " AS __geo_bkt",
    )


def _v4_join(df: DataFrame, dim: DataFrame, ip_col: str, out_col: str, shift: int,
             extra_cols: dict[str, str]) -> DataFrame:
    fact = df.selectExpr("*", f"{_ipv4_to_long_sql(ip_col)} AS __ip_long")
    hit = (
        f"shiftright(__ip_long, {shift}) = __geo_bkt"
        " AND __ip_long >= __geo_lo AND __ip_long <= __geo_hi"
    )
    joined = fact.join(F.broadcast(dim), F.expr(hit), "left")
    fill = {out_col: "coalesce(__geo_country, 'Unknown')", **_geo_extras(extra_cols)[1]}
    return joined.selectExpr(*_in_place(df.columns, fill))


def geoip_enrich(
    df: DataFrame,
    geo_dim: DataFrame,
    ip_col: str = "source_ip_address",
    out_col: str = "source_country",
    bucket_bits: int = V4_BUCKET_BITS,
    extra_cols: dict[str, str] | None = None,
) -> DataFrame:
    """P9/J3 — prefix-interval lookup as a bucketed broadcast HASH join
    (never a nested-loop join). `geo_dim`: (start_ip, end_ip, country)
    as int64 bounds. Unmatched / malformed IPs get 'Unknown'
    (parser.go:1274-1277).

    Scale shape: a naive broadcast range join is a
    BroadcastNestedLoopJoin — O(|fact| × |dim|), a scale-killer against
    the real GeoLite2 dim (~3M intervals). Instead each interval is
    exploded to the /16 buckets it spans and the join becomes a
    broadcast EQUI-join on `ip >> 16` with the range check as a residual
    join predicate. Because real GeoIP intervals are disjoint, the
    exploded dim is bounded by |intervals| + 2^bucket_bits rows total
    (each bucket boundary adds at most one extra row per interval
    crossing it) — ~3M + 65k rows, still broadcastable, and each fact
    row probes a hash table instead of scanning the dim.

    `extra_cols` maps further dim columns to output names (e.g.
    {"city": "source_city", "isp": "source_isp"} against a dim built by
    enrichdims.geo_dim_from_mmdb — the city/ISP fields the reference
    reads at utils.go:58-68); misses fill ''."""
    shift = 32 - bucket_bits
    extra_cols = extra_cols or {}
    dim = _v4_bucket_dim(geo_dim, shift, extra_cols)
    return _v4_join(df, dim, ip_col, out_col, shift, extra_cols)


def apply_reverse_dns(
    df: DataFrame,
    rdns_dim: DataFrame,
    ip_col: str = "source_ip_address",
    out_col: str = "source_reverse_dns",
) -> DataFrame:
    """P10 consumption side: attach PTR hostnames from a previously
    landed (ip, hostname) dim (built by enrichdims.resolve_ptr_batch
    when online; empty when offline — rows then keep '' exactly like
    parser.go:1289-1296's offline default). Broadcast left join; the
    dim is distinct-by-ip."""
    dim = F.broadcast(
        rdns_dim.select(F.col("ip").alias("__rdns_ip"), F.col("hostname").alias("__rdns_host"))
    )
    joined = df.join(dim, df[ip_col] == dim["__rdns_ip"], "left")
    return joined.withColumn(out_col, F.coalesce(F.col("__rdns_host"), F.lit(""))).drop(
        "__rdns_ip", "__rdns_host"
    )


def _sender_dim(dns_map: DataFrame) -> DataFrame:
    """The sender map keyed on its lower-cased base domain."""
    return dns_map.selectExpr("lower(base_reverse_dns) AS __brd", "name AS __name",
                              "type AS __type")


def _sender_join(df: DataFrame, dim: DataFrame, reverse_dns_col: str) -> DataFrame:
    fact = df.selectExpr("*", f"{_base_domain_sql(f'lower({reverse_dns_col})')} AS __bd")
    joined = fact.join(F.broadcast(dim), F.expr("__bd = __brd"), "left")
    return joined.selectExpr(*_in_place(df.columns, {
        "source_base_domain": "__bd",
        "source_name": "coalesce(__name, 'Unknown')",
        "source_type": "coalesce(__type, 'Unknown')",
    }))


def classify_sender(
    df: DataFrame,
    dns_map: DataFrame,
    reverse_dns_col: str = "source_reverse_dns",
) -> DataFrame:
    """P12/J2 — sender classification via the reverse-DNS map dim
    (base_reverse_dns, name, type), broadcast left join keyed on the
    base domain of the PTR hostname; misses → 'Unknown'
    (SURVEY J2; fields stored at clickhouse.go:116-117)."""
    return _sender_join(df, _sender_dim(dns_map), reverse_dns_col)


@dataclass
class EnrichmentContext:
    """The dims + flags one daemon/CLI run enriches with, built once
    from config.parser (config.go:24-37 ParserConfig) and applied to
    every batch. All dims are small broadcastable DataFrames.

    The dims are prepared once, on first use: the bucket-exploded GeoIP
    dims and the lower-cased sender map are persisted, and every later
    `enrich_records` call reads them instead of re-reading and
    re-exploding their sources. `release()` frees them; a later use
    prepares them again."""

    geo_dim: DataFrame | None = None
    geo_dim6: DataFrame | None = None  # 128-bit dim when the mmdb is a v6 tree
    dns_map: DataFrame | None = None
    nameservers: list[str] = field(default_factory=list)
    dns_timeout: float = 2.0
    offline: bool = True
    _prepared: tuple | None = field(default=None, init=False, repr=False, compare=False)

    def prepared(self) -> tuple[DataFrame | None, DataFrame | None, DataFrame | None]:
        """(v4 GeoIP, v6 GeoIP, sender map) in join form, persisted;
        None where the context has no such dim."""
        if self._prepared is None:
            self._prepared = tuple(
                None if src is None else prep(src).persist()
                for src, prep in (
                    (self.geo_dim, lambda d: _v4_bucket_dim(d, 32 - V4_BUCKET_BITS, {})),
                    (self.geo_dim6, lambda d: _v6_bucket_dim(d, 64 - V6_BUCKET_BITS, {})),
                    (self.dns_map, _sender_dim),
                )
            )
        return self._prepared

    def release(self) -> None:
        """Unpersist the prepared dims."""
        for df in self._prepared or ():
            if df is not None:
                df.unpersist()
        self._prepared = None


def build_enrichment(spark: SparkSession, parser_cfg) -> EnrichmentContext | None:
    """config.parser → EnrichmentContext (parser.go:1272-1299 wiring:
    GeoIP when ip_db_path is set, the sender map always — vendored
    default or reverse_dns_map_path — live PTR only when not offline).
    Returns None when enrichment is fully disabled."""
    from parsedmarc_go_spark.functions.enrichdims import (
        MMDBFile,
        geo_dim6_from_mmdb,
        geo_dim_from_mmdb,
        load_dns_map,
    )

    geo = geo6 = None
    if parser_cfg.ip_db_path:
        geo = geo_dim_from_mmdb(spark, parser_cfg.ip_db_path)
        # v6 tree: also extract the 128-bit dim so IPv6 sources resolve
        # (the reference's geoip2 Reader is protocol-agnostic,
        # utils.go:41-56). Second driver walk of the same file — one-time
        # build cost, same streamed-batch memory bound.
        if MMDBFile(parser_cfg.ip_db_path).ip_version == 6:
            geo6 = geo_dim6_from_mmdb(spark, parser_cfg.ip_db_path)
    dns_map = load_dns_map(spark, parser_cfg.reverse_dns_map_path or None)
    return EnrichmentContext(
        geo_dim=geo,
        geo_dim6=geo6,
        dns_map=dns_map,
        nameservers=list(parser_cfg.nameservers or []),
        dns_timeout=float(parser_cfg.dns_timeout or 2),
        offline=bool(parser_cfg.offline),
    )


def enrich_records(
    df: DataFrame, ctx: EnrichmentContext, ip_col: str = "source_ip_address"
) -> DataFrame:
    """Apply the configured enrichments to a flat table that carries the
    source_* columns (aggregate records / forensic reports), joining
    the context's prepared dims. Column order is preserved — every
    enrichment replaces an existing offline default in place
    (parser.go:1274-1296)."""
    geo, geo6, senders = ctx.prepared()
    out = df
    if geo is not None and geo6 is not None:
        # dual-stack route: each family through its own bucketed join —
        # a unified 128-bit join would funnel every v4 row into the
        # single hi=0 bucket and degrade to a linear dim scan per row
        is6 = f"coalesce(contains({ip_col}, ':'), false)"
        out = _v4_join(
            out.filter(f"NOT {is6}"), geo, ip_col, "source_country", 32 - V4_BUCKET_BITS, {}
        ).unionByName(
            _v6_join(out.filter(is6), geo6, ip_col, "source_country", 64 - V6_BUCKET_BITS, {})
        )
    elif geo is not None:
        out = _v4_join(out, geo, ip_col, "source_country", 32 - V4_BUCKET_BITS, {})
    if not ctx.offline and ctx.nameservers:
        from parsedmarc_go_spark.functions.enrichdims import resolve_ptr_batch

        rdns = resolve_ptr_batch(
            out.select(F.col(ip_col).alias("ip")),
            ctx.nameservers,
            timeout=ctx.dns_timeout,
            offline=False,
        )
        out = apply_reverse_dns(out, rdns, ip_col=ip_col)
    if senders is not None:
        out = _sender_join(out, senders, "source_reverse_dns")
    return out
