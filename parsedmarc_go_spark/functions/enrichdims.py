"""Builders for the enrichment dimension tables (SURVEY P9/P10/P12):

- `load_dns_map`: the 1,794-row sender-classification map
  (parsedmarc/resources/maps/base_reverse_dns_map.csv; loader parity
  with the reference's map consumption, types.go:62-63) — vendored
  under resources/maps/, overridable by path
  (config.parser.reverse_dns_map_path).
- `geo_dim_from_mmdb`: MaxMind MMDB → (start_ip, end_ip, country,
  city, isp) interval dim, matching the fields the reference reads
  (utils.go:41-71: country + city names["en"], anonymous-proxy /
  satellite-provider traits as ISP). Implemented as a pure-Python
  reader for the public MaxMind DB file format spec — no native deps —
  so the converter runs anywhere the engine runs.
- `geo_dim_from_csv`: the GeoLite2 CSV distribution
  (Blocks-IPv4 + Locations) → the same interval dim, pure Spark.
- `resolve_ptr_batch`: batch PTR resolution against configurable
  nameservers with timeout (utils.go:74-113 GetReverseDNS), as a
  mapInPandas stage landing an (ip, hostname) dim. Network-gated by
  the offline flag (config.go:30-37) exactly like the reference.

The dims feed functions.enrich.geoip_enrich / classify_sender — the
engine never does per-row network lookups inside a query.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MAPS_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "resources", "maps")
DEFAULT_DNS_MAP = os.path.join(_MAPS_DIR, "base_reverse_dns_map.csv")
DEFAULT_DNS_TYPES = os.path.join(_MAPS_DIR, "base_reverse_dns_types.txt")


def load_dns_map(spark: SparkSession, path: str | None = None) -> DataFrame:
    """(base_reverse_dns, name, type) dim for classify_sender. Explicit
    schema (never inferSchema); quoted fields per RFC 4180."""
    return (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .schema("base_reverse_dns string, name string, type string")
        .csv(path or DEFAULT_DNS_MAP)
    )


def load_dns_types(path: str | None = None) -> list[str]:
    """The 44 sender categories (base_reverse_dns_types.txt)."""
    with open(path or DEFAULT_DNS_TYPES, encoding="utf-8") as f:
        return [line.strip() for line in f if line.strip()]


# ---------------------------------------------------------------------------
# MaxMind DB (.mmdb) reader — pure Python over the public file-format
# spec (https://maxmind.github.io/MaxMind-DB/). Only what the converter
# needs: metadata decode, search-tree walk, data-section decode.
# ---------------------------------------------------------------------------

_METADATA_MARKER = b"\xab\xcd\xefMaxMind.com"


class _MMDBDecoder:
    def __init__(self, buf: bytes, base: int):
        self.buf = buf
        self.base = base  # absolute offset of the data section start

    def decode(self, offset: int):
        """Decode one value at data-section-relative `offset`; returns
        (value, next_offset)."""
        pos = self.base + offset
        ctrl = self.buf[pos]
        pos += 1
        type_id = ctrl >> 5
        if type_id == 0:  # extended type
            type_id = self.buf[pos] + 7
            pos += 1
        size = ctrl & 0x1F
        if type_id == 1:  # pointer — size bits encode pointer width
            ss = (ctrl >> 3) & 0x3
            vv = ctrl & 0x7
            if ss == 0:
                ptr = (vv << 8) | self.buf[pos]
                pos += 1
            elif ss == 1:
                ptr = ((vv << 16) | (self.buf[pos] << 8) | self.buf[pos + 1]) + 2048
                pos += 2
            elif ss == 2:
                ptr = ((vv << 24) | int.from_bytes(self.buf[pos : pos + 3], "big")) + 526336
                pos += 3
            else:
                ptr = int.from_bytes(self.buf[pos : pos + 4], "big")
                pos += 4
            value, _ = self.decode(ptr)
            return value, pos - self.base
        if size == 29:
            size = 29 + self.buf[pos]
            pos += 1
        elif size == 30:
            size = 285 + int.from_bytes(self.buf[pos : pos + 2], "big")
            pos += 2
        elif size == 31:
            size = 65821 + int.from_bytes(self.buf[pos : pos + 3], "big")
            pos += 3

        if type_id == 2:  # utf8 string
            return self.buf[pos : pos + size].decode("utf-8"), pos + size - self.base
        if type_id == 3:  # double
            return struct.unpack(">d", self.buf[pos : pos + 8])[0], pos + 8 - self.base
        if type_id == 4:  # bytes
            return self.buf[pos : pos + size], pos + size - self.base
        if type_id in (5, 6, 9, 10):  # uint16/32/64/128
            return int.from_bytes(self.buf[pos : pos + size], "big"), pos + size - self.base
        if type_id == 7:  # map
            out = {}
            off = pos - self.base
            for _ in range(size):
                key, off = self.decode(off)
                val, off = self.decode(off)
                out[key] = val
            return out, off
        if type_id == 8:  # int32
            raw = self.buf[pos : pos + size]
            return int.from_bytes(raw, "big", signed=True), pos + size - self.base
        if type_id == 11:  # array
            out = []
            off = pos - self.base
            for _ in range(size):
                val, off = self.decode(off)
                out.append(val)
            return out, off
        if type_id == 14:  # bool — size IS the value
            return bool(size), pos - self.base
        if type_id == 15:  # float
            return struct.unpack(">f", self.buf[pos : pos + 4])[0], pos + 4 - self.base
        raise ValueError(f"unsupported mmdb type id {type_id}")


class MMDBFile:
    """Minimal read-only view of an .mmdb file: metadata + leaf walk."""

    def __init__(self, path: str):
        with open(path, "rb") as f:
            self.buf = f.read()
        marker_at = self.buf.rfind(_METADATA_MARKER)
        if marker_at < 0:
            raise ValueError(f"{path}: no MaxMind metadata marker — not an mmdb file")
        meta_decoder = _MMDBDecoder(self.buf, marker_at + len(_METADATA_MARKER))
        self.metadata, _ = meta_decoder.decode(0)
        self.node_count = self.metadata["node_count"]
        self.record_size = self.metadata["record_size"]  # bits: 24/28/32
        self.ip_version = self.metadata["ip_version"]
        self.node_bytes = self.record_size * 2 // 8
        self.tree_size = self.node_count * self.node_bytes
        # data section starts after the tree + 16-byte separator
        self.data = _MMDBDecoder(self.buf, self.tree_size + 16)

    def _record(self, node: int, side: int) -> int:
        base = node * self.node_bytes
        if self.record_size == 24:
            off = base + side * 3
            return int.from_bytes(self.buf[off : off + 3], "big")
        if self.record_size == 28:
            if side == 0:
                return ((self.buf[base + 3] >> 4) << 24) | int.from_bytes(
                    self.buf[base : base + 3], "big"
                )
            return ((self.buf[base + 3] & 0x0F) << 24) | int.from_bytes(
                self.buf[base + 4 : base + 7], "big"
            )
        if self.record_size == 32:
            off = base + side * 4
            return int.from_bytes(self.buf[off : off + 4], "big")
        raise ValueError(f"unsupported record size {self.record_size}")

    def _ipv4_root(self) -> int:
        """For ip_version 6 trees, descend 96 zero bits to the IPv4
        subtree (the standard ::ffff:0:0/96 embedding)."""
        node = 0
        if self.ip_version == 4:
            return node
        for _ in range(96):
            if node >= self.node_count:
                return node
            node = self._record(node, 0)
        return node

    def _iter_leaves(self, root: int, total_bits: int):
        """Depth-first leaf walk from ``root`` in a ``total_bits``-wide
        address space, yielding (prefix_int, prefix_len, record_dict) in
        address order."""
        if root >= self.node_count:
            return
        stack = [(root, 0, 0)]
        while stack:
            node, prefix, depth = stack.pop()
            for side in (1, 0):  # push right first → left pops first
                rec = self._record(node, side)
                child_prefix = prefix | (side << (total_bits - 1 - depth))
                if rec < self.node_count:
                    stack.append((rec, child_prefix, depth + 1))
                elif rec > self.node_count:  # data leaf
                    data_off = rec - self.node_count - 16
                    value, _ = self.data.decode(data_off)
                    yield child_prefix, depth + 1, value

    def iter_ipv4_leaves(self):
        """Yield (start_ip_int, prefix_len, record_dict) for every IPv4
        network in the tree — depth-first, so output is address-ordered."""
        yield from self._iter_leaves(self._ipv4_root(), 32)

    def iter_all_leaves(self):
        """Yield (prefix_int, prefix_len, record_dict) for EVERY network
        in the tree in the tree's native address width: 128-bit prefixes
        for an ip_version-6 tree (IPv4 entries appear under their ::/96
        embedding), 32-bit for a v4-only tree. Feeds the (hi, lo) IPv6
        dim — geo_dim6_from_mmdb normalizes both widths to 128 bits."""
        yield from self._iter_leaves(0, 128 if self.ip_version == 6 else 32)


def _geo_fields(record: dict) -> tuple[str, str, str]:
    """utils.go:41-71 field extraction: country/city names['en'],
    anonymous-proxy / satellite-provider traits as the ISP string."""
    country = ((record.get("country") or {}).get("names") or {}).get("en", "")
    city = ((record.get("city") or {}).get("names") or {}).get("en", "")
    traits = record.get("traits") or {}
    if traits.get("is_anonymous_proxy"):
        isp = "Anonymous Proxy"
    elif traits.get("is_satellite_provider"):
        isp = "Satellite Provider"
    else:
        isp = ""
    return country, city, isp


_GEO_DIM_SCHEMA = "start_ip long, end_ip long, country string, city string, isp string"


def _driver_fs_shared(master: str, dim_path: str | None) -> bool:
    """True when a pyarrow write to the driver's local filesystem will be
    readable by every executor: local[*] master AND a plain local path
    (no object-store URI)."""
    local_path = dim_path is None or "://" not in dim_path or dim_path.startswith("file:")
    return master.startswith("local") and local_path


def geo_dim_from_mmdb(
    spark: SparkSession,
    mmdb_path: str,
    batch_rows: int = 100_000,
    dim_path: str | None = None,
) -> DataFrame:
    """MMDB → (start_ip, end_ip, country, city, isp) interval dim for
    geoip_enrich. The tree walk runs on the driver (an mmdb is a single
    local artifact of ~60 MB), but the ~3M leaves are STREAMED out in
    ``batch_rows``-sized batches — driver memory stays bounded by one
    batch instead of holding the whole interval list as Python objects
    (round-3 finding). The returned DataFrame is a plain parquet scan
    of the written dim table, so it partitions, prunes, and broadcasts
    like any other dim; pass ``dim_path`` to keep the table for reuse
    across jobs (default: a temp dir, local master only).

    Cluster safety (round-4 advice): the fast pyarrow-to-local-disk
    path is only valid when executors share the driver's filesystem —
    i.e. a local[*] master with a plain local ``dim_path``. On any
    other master, or for object-store URIs (s3://…), the batches are
    routed through ``spark.createDataFrame`` and written BY SPARK, so
    the dim lands wherever executors can actually read it; that mode
    requires an explicit cluster-visible ``dim_path``."""
    db = MMDBFile(mmdb_path)

    def _batches():
        cols: list[list] = [[], [], [], [], []]
        for prefix, plen, record in db.iter_ipv4_leaves():
            country, city, isp = _geo_fields(record)
            cols[0].append(prefix)
            cols[1].append(prefix | ((1 << (32 - plen)) - 1))
            cols[2].append(country)
            cols[3].append(city)
            cols[4].append(isp)
            if len(cols[0]) >= batch_rows:
                yield cols
                cols = [[], [], [], [], []]
        yield cols  # final partial (possibly empty) batch

    return _materialize_dim(spark, _batches(), _GEO_DIM_SCHEMA, dim_path)


def _materialize_dim(spark, batches, ddl_schema: str, dim_path: str | None) -> DataFrame:
    """Shared landing path for driver-walked dims (see geo_dim_from_mmdb
    docstring for the cluster-safety rules): pyarrow straight to disk
    when the driver filesystem is cluster-visible, spark.createDataFrame
    batches otherwise."""
    import tempfile

    master = spark.conf.get("spark.master", "local")
    fields = [f.split() for f in ddl_schema.split(",")]  # [(name, ddl_type), ...]

    if _driver_fs_shared(master, dim_path):
        # fast path: zero Spark jobs at build; parquet written with pyarrow
        import pyarrow as pa
        import pyarrow.parquet as pq

        if dim_path:
            os.makedirs(dim_path, exist_ok=True)
            out_dir = dim_path
        else:
            out_dir = tempfile.mkdtemp(prefix="mmdb_geo_dim_")
        arrow_schema = pa.schema(
            [(n, pa.int64() if t == "long" else pa.string()) for n, t in fields]
        )
        for part, cols in enumerate(batches):
            if cols[0] or part == 0:  # always write ≥1 file (empty tree → empty dim)
                table = pa.table(dict(zip(arrow_schema.names, cols)), schema=arrow_schema)
                pq.write_table(table, f"{out_dir}/part-{part:05d}.parquet")
    else:
        if not dim_path:
            raise ValueError(
                "an MMDB-walked dim on a non-local master needs an explicit "
                "cluster-visible dim_path (shared filesystem or object store); "
                "the driver-local temp-dir default would be unreadable by executors"
            )
        out_dir = dim_path
        for i, cols in enumerate(batches):
            rows = list(zip(*cols)) if cols[0] else []
            (
                spark.createDataFrame(rows, ddl_schema)
                .write.mode("overwrite" if i == 0 else "append")
                .parquet(out_dir)
            )
    return spark.read.schema(ddl_schema).parquet(out_dir)


_GEO_DIM6_SCHEMA = (
    "start_hi long, start_lo long, end_hi long, end_lo long,"
    " country string, city string, isp string"
)


def _biased_halves(value128: int) -> tuple[int, int]:
    """Split a 128-bit address into the two sign-biased int64 halves
    with_ip_hilo emits (signed lexicographic order == address order)."""

    def b(u64: int) -> int:
        x = u64 ^ (1 << 63)
        return x - (1 << 64) if x >= (1 << 63) else x

    return b(value128 >> 64), b(value128 & ((1 << 64) - 1))


def geo_dim6_from_mmdb(
    spark: SparkSession,
    mmdb_path: str,
    batch_rows: int = 100_000,
    dim_path: str | None = None,
) -> DataFrame:
    """MMDB → (start_hi, start_lo, end_hi, end_lo, country, city, isp)
    interval dim for geoip_enrich6 — the full tree including IPv6
    networks, where geo_dim_from_mmdb extracts only the IPv4 subtree.
    A v4-only tree is embedded at ::/96, matching with_ip_hilo's IPv4
    mapping. Same streamed-batch landing rules as geo_dim_from_mmdb
    (driver walk, bounded memory, cluster-visible dim_path on non-local
    masters); bounds are sign-biased so the join's signed (hi, lo)
    comparisons order correctly."""
    db = MMDBFile(mmdb_path)
    width = 128 if db.ip_version == 6 else 32

    def _batches():
        cols: list[list] = [[], [], [], [], [], [], []]
        for prefix, plen, record in db.iter_all_leaves():
            # v4 tree: the 32-bit value IS its ::/96 embedding (hi = 0)
            start = prefix
            end = start | ((1 << (width - plen)) - 1)
            country, city, isp = _geo_fields(record)
            shi, slo = _biased_halves(start)
            ehi, elo = _biased_halves(end)
            for i, v in enumerate((shi, slo, ehi, elo, country, city, isp)):
                cols[i].append(v)
            if len(cols[0]) >= batch_rows:
                yield cols
                cols = [[], [], [], [], [], [], []]
        yield cols  # final partial (possibly empty) batch

    return _materialize_dim(spark, _batches(), _GEO_DIM6_SCHEMA, dim_path)


def geo_dim_from_csv(
    spark: SparkSession, blocks_csv: str, locations_csv: str
) -> DataFrame:
    """GeoLite2 CSV distribution → the same interval dim, fully
    distributed (the CSV form is the scale path for dim refresh jobs):
    Blocks-IPv4 (network CIDR, geoname_id) ⋈ Locations (geoname_id,
    country_name, city_name). CIDR → [start, end] is pure arithmetic.

    Locations columns are selected by header name, so MaxMind's own
    files (GeoLite2-Country-Locations-en.csv: locale_code second,
    country_name sixth, no city_name) and a bare three-column
    (geoname_id, country_name, city_name) file both load; city is ''
    when the file has no city_name column."""
    blocks = (
        spark.read.option("header", True)
        .schema("network string, geoname_id long, registered_country_geoname_id long")
        .csv(blocks_csv)
    )
    raw_locations = spark.read.option("header", True).csv(locations_csv)
    locations = raw_locations.select(
        F.col("geoname_id").cast("long").alias("geoname_id"),
        "country_name",
        (F.col("city_name") if "city_name" in raw_locations.columns else F.lit("")).alias(
            "city_name"
        ),
    )
    from parsedmarc_go_spark.functions.enrich import ipv4_to_long

    net = F.split(F.col("network"), "/")
    base = ipv4_to_long("element_at(split(network, '/'), 1)")
    plen = F.element_at(net, 2).cast("int")
    with_range = (
        blocks.select(
            base.alias("start_ip"),
            plen.alias("__plen"),
            F.coalesce(F.col("geoname_id"), F.col("registered_country_geoname_id")).alias(
                "geoname_id"
            ),
        )
        .withColumn("end_ip", F.col("start_ip") + F.expr("shiftleft(1L, 32 - __plen) - 1"))
        .drop("__plen")
    )
    return with_range.join(F.broadcast(locations), "geoname_id", "left").select(
        "start_ip",
        "end_ip",
        F.coalesce(F.col("country_name"), F.lit("")).alias("country"),
        F.coalesce(F.col("city_name"), F.lit("")).alias("city"),
        F.lit("").alias("isp"),
    )


# ---------------------------------------------------------------------------
# Batch PTR resolution (P10) — stdlib-only DNS client so the engine can
# honor configured nameservers + timeout (utils.go:74-113) without a
# DNS library. Gated by the offline flag at the call site.
# ---------------------------------------------------------------------------


def _encode_ptr_query(ip: str, txn_id: int) -> bytes:
    """Build a DNS PTR query packet for a dotted-quad IPv4."""
    octets = ip.split(".")
    qname = ".".join(reversed(octets)) + ".in-addr.arpa"
    header = struct.pack(">HHHHHH", txn_id, 0x0100, 1, 0, 0, 0)  # RD
    question = b"".join(
        bytes([len(label)]) + label.encode("ascii") for label in qname.split(".")
    ) + b"\x00"
    question += struct.pack(">HH", 12, 1)  # QTYPE=PTR, QCLASS=IN
    return header + question


def _read_name(buf: bytes, pos: int) -> tuple[str, int]:
    """Decode a (possibly compressed) DNS name; returns (name, next_pos)."""
    labels: list[str] = []
    jumped = False
    next_pos = pos
    hops = 0
    while True:
        length = buf[pos]
        if length & 0xC0 == 0xC0:  # compression pointer
            if not jumped:
                next_pos = pos + 2
                jumped = True
            pos = ((length & 0x3F) << 8) | buf[pos + 1]
            hops += 1
            if hops > 64:
                raise ValueError("DNS name compression loop")
            continue
        if length == 0:
            if not jumped:
                next_pos = pos + 1
            return ".".join(labels), next_pos
        labels.append(buf[pos + 1 : pos + 1 + length].decode("ascii", "replace"))
        pos += 1 + length


def _parse_ptr_response(buf: bytes, txn_id: int) -> str | None:
    if len(buf) < 12:
        return None
    rid, flags, qd, an, _, _ = struct.unpack(">HHHHHH", buf[:12])
    if rid != txn_id or flags & 0x000F != 0:  # wrong txn or RCODE != 0
        return None
    pos = 12
    for _ in range(qd):  # skip questions
        _, pos = _read_name(buf, pos)
        pos += 4
    for _ in range(an):
        _, pos = _read_name(buf, pos)
        rtype, _, _, rdlen = struct.unpack(">HHIH", buf[pos : pos + 10])
        pos += 10
        if rtype == 12:  # PTR
            name, _ = _read_name(buf, pos)
            return name.rstrip(".")
        pos += rdlen
    return None


def resolve_ptr(ip: str, nameservers: list[str], timeout: float = 2.0) -> str | None:
    """One PTR lookup, trying each nameserver in order (utils.go:88-111:
    first answering server wins; failures fall through)."""
    import random
    import socket

    for ns in nameservers:
        host, _, port = ns.partition(":")
        txn_id = random.randint(0, 0xFFFF)
        query = _encode_ptr_query(ip, txn_id)
        try:
            with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
                sock.settimeout(timeout)
                sock.sendto(query, (host, int(port or 53)))
                buf, _ = sock.recvfrom(4096)
            name = _parse_ptr_response(buf, txn_id)
            if name:
                return name
        except OSError:
            continue
    return None


def resolve_ptr_batch(
    ips: DataFrame,
    nameservers: list[str],
    timeout: float = 2.0,
    ip_col: str = "ip",
    offline: bool = True,
) -> DataFrame:
    """Batch PTR resolution landing the (ip, hostname) dim that
    classify_sender consumes via base_domain(hostname). offline=True
    (the default, matching config.parser.offline semantics) performs NO
    network I/O and returns an empty dim. Online, each Arrow batch
    resolves its distinct IPs with the stdlib client above — the
    network stage is mapInPandas, parallel across executors, and the
    result should be persisted as a dim table rather than re-resolved."""
    import pandas as pd

    spark = ips.sparkSession
    schema = "ip string, hostname string"
    if offline:
        return spark.createDataFrame([], schema)
    distinct = ips.select(F.col(ip_col).alias("ip")).distinct()
    ns = list(nameservers)
    to = timeout

    def lookup(batches):
        for pdf in batches:
            out = []
            for ip in pdf["ip"]:
                out.append(resolve_ptr(ip, ns, to) if ip else None)
            yield pd.DataFrame({"ip": pdf["ip"], "hostname": out})

    return distinct.mapInPandas(lookup, schema)
