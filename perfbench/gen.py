"""Seeded input generator for the benchmark.

Everything the benchmark feeds the program comes from here, and every
figure the output checks compare against is computed here, from the
generator's own records, never from program output:

- GeoLite2-format GeoIP CSVs (Blocks-IPv4 + Locations) whose networks
  are the only source of the report source IPs (plus a few addresses
  that no block covers, which must enrich to 'Unknown');
- DMARC aggregate reports in every container the extractor handles
  (plain XML, gzip, zip, MIME .eml with a zip or gzip attachment,
  base64 text), forensic MIME reports (RFC 6591) and SMTP-TLS JSON
  reports (RFC 8460);
- planted rejects: invalid XML, invalid UTF-8, a date range over 48 h
  and a non-integer <count>.

Report dates fall within the 90 days before the pinned clock AS_OF.
The same seed always yields byte-identical files.
"""

from __future__ import annotations

import base64
import gzip
import io
import json
import os
import random
import zipfile
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

AS_OF = "2026-03-31 12:00:00"  # pinned ingest clock (cli -as-of, daemon as_of)
AS_OF_DT = datetime(2026, 3, 31, 12, 0, 0, tzinfo=timezone.utc)
WINDOW_DAYS = 90

COUNTRIES = (
    "United States", "Germany", "France", "Japan", "Brazil", "India", "Canada",
    "Netherlands", "Sweden", "Australia", "Spain", "Italy", "Poland", "Kenya",
    "Chile",
)
ORGS = ("google.com", "Yahoo", "Microsoft Corporation", "Mail.Ru", "Comcast",
        "Fastmail", "Proton AG", "Zoho", "GMX", "Seznam.cz")
DOMAINS = tuple(f"brand{i}.example" for i in range(12))
# record value domains follow the schema in FIXTURES.md: disposition
# weighted 80/10/10, count log-normal within 1-10,000, DKIM passing on
# ~70% of records and SPF on ~60%, ~10% of sources without a country
DISPOSITIONS = ("none",) * 8 + ("quarantine", "reject")
AGG_CONTAINERS = ("xml", "gz", "zip", "eml_zip", "eml_gz", "b64")
REJECT_KINDS = ("bad_xml", "bad_utf8", "long_range", "bad_count")
# reject reason strings the program documents for each planted defect;
# bad_count has no reason of its own in the program and is checked by
# path and kind only
REJECT_REASON = {
    "bad_xml": ("aggregate", "xml parse failed"),
    "bad_utf8": ("unknown", "invalid utf-8"),  # prefix: the decoder appends detail
    "long_range": ("aggregate", "time span > 24 hours - RFC 7489 section 7.2"),
    "bad_count": ("aggregate", None),
}
TLS_RESULT_TYPES = ("certificate-expired", "starttls-not-supported",
                    "validation-failure", "sts-policy-fetch-error")


# ---------------------------------------------------------------------------
# GeoIP dimension
# ---------------------------------------------------------------------------


@dataclass
class Geo:
    blocks: list  # (start_int, prefix_len, geoname_id)
    country_of_geoname: dict

    def draw_ip(self, rng: random.Random) -> tuple[str, str]:
        """A source IP and the country the GeoIP join must give it.
        One draw in 10 comes from 198.18.0.0/15, which no block covers."""
        if rng.random() < 0.1:
            return f"198.18.{rng.randrange(256)}.{rng.randrange(1, 255)}", "Unknown"
        start, plen, gid = rng.choice(self.blocks)
        ip = start + rng.randrange(1 << (32 - plen))
        return _ip_str(ip), self.country_of_geoname[gid]


def _ip_str(v: int) -> str:
    return ".".join(str((v >> s) & 255) for s in (24, 16, 8, 0))


def make_geo(rng: random.Random, n_blocks: int = 240) -> Geo:
    """Disjoint /20../24 blocks, each inside its own /16 of 11.0.0.0 -
    100.255.0.0, mapped to one of COUNTRIES by geoname id."""
    firsts = rng.sample(range(11 * 256, 100 * 256), n_blocks)  # distinct /16s
    country_of_geoname = {1000 + i: c for i, c in enumerate(COUNTRIES)}
    blocks = []
    for s16 in firsts:
        plen = rng.choice((20, 22, 24))
        start = (s16 << 16) | (rng.randrange(1 << (plen - 16)) << (32 - plen))
        blocks.append((start, plen, 1000 + rng.randrange(len(COUNTRIES))))
    return Geo(blocks, country_of_geoname)


def write_geo_csvs(geo: Geo, out_dir: str) -> tuple[str, str]:
    """Blocks in the GeoLite2-Country-Blocks-IPv4 column layout.
    Locations carry (geoname_id, country_name, city_name), the columns
    geo_dim_from_csv reads by position."""
    blocks = os.path.join(out_dir, "GeoLite2-Country-Blocks-IPv4.csv")
    locs = os.path.join(out_dir, "GeoLite2-Country-Locations-en.csv")
    with open(blocks, "w", encoding="utf-8") as f:
        f.write("network,geoname_id,registered_country_geoname_id,"
                "represented_country_geoname_id,is_anonymous_proxy,is_satellite_provider\n")
        for start, plen, gid in geo.blocks:
            f.write(f"{_ip_str(start)}/{plen},{gid},{gid},,0,0\n")
    with open(locs, "w", encoding="utf-8") as f:
        f.write("geoname_id,country_name,city_name\n")
        for gid, country in sorted(geo.country_of_geoname.items()):
            f.write(f'{gid},"{country}",\n')
    return blocks, locs


# ---------------------------------------------------------------------------
# tallies
# ---------------------------------------------------------------------------


@dataclass
class Tally:
    """What the program must produce for a set of files."""

    reports: int = 0
    records: int = 0
    count_sum: int = 0
    aligned_sum: int = 0
    country_sum: Counter = field(default_factory=Counter)
    day_sum: Counter = field(default_factory=Counter)  # report begin date -> Σcount
    forensic: int = 0
    tls_reports: int = 0  # one row per policy
    tls_failures: int = 0
    rejects: Counter = field(default_factory=Counter)  # planted kind -> n
    report_ids: list = field(default_factory=list)  # aggregate report ids
    forensic_ids: list = field(default_factory=list)  # Message-IDs
    tls_policies: dict = field(default_factory=dict)  # tls report id -> policies
    reject_files: dict = field(default_factory=dict)  # file name -> planted kind

    def add(self, other: "Tally") -> None:
        for k in ("reports", "records", "count_sum", "aligned_sum", "forensic",
                  "tls_reports", "tls_failures"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.country_sum.update(other.country_sum)
        self.day_sum.update(other.day_sum)
        self.rejects.update(other.rejects)
        self.report_ids += other.report_ids
        self.forensic_ids += other.forensic_ids
        self.tls_policies.update(other.tls_policies)
        self.reject_files.update(other.reject_files)

    def to_json(self) -> dict:
        return {
            "reports": self.reports,
            "records": self.records,
            "count_sum": self.count_sum,
            "aligned_sum": self.aligned_sum,
            "count_by_country": dict(sorted(self.country_sum.items())),
            "count_by_day": {str(d): c for d, c in sorted(self.day_sum.items())},
            "forensic_reports": self.forensic,
            "smtp_tls_reports": self.tls_reports,
            "smtp_tls_failures": self.tls_failures,
            "rejects_by_kind": dict(sorted(self.rejects.items())),
        }


# ---------------------------------------------------------------------------
# report builders
# ---------------------------------------------------------------------------


def _epoch(dt: datetime) -> int:
    return int(dt.timestamp())


def _report_begin(rng: random.Random, window_days: int = WINDOW_DAYS) -> datetime:
    """Midnight-aligned day within the window before AS_OF."""
    day = rng.randrange(1, window_days)
    return (AS_OF_DT - timedelta(days=day)).replace(hour=0, minute=0, second=0)


def aggregate_xml(rng: random.Random, geo: Geo, report_id: str, n_records: int,
                  tally: Tally, begin: datetime | None = None,
                  defect: str | None = None) -> bytes:
    begin = begin or _report_begin(rng)
    span = timedelta(hours=72) if defect == "long_range" else timedelta(hours=24) - timedelta(seconds=1)
    org = rng.choice(ORGS)
    domain = rng.choice(DOMAINS)
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n<feedback>\n  <version>1.0</version>\n',
        f"  <report_metadata>\n    <org_name>{org}</org_name>\n"
        f"    <email>noreply-dmarc@{org.lower().replace(' ', '')}.example</email>\n"
        f"    <report_id>{report_id}</report_id>\n"
        f"    <date_range>\n      <begin>{_epoch(begin)}</begin>\n"
        f"      <end>{_epoch(begin + span)}</end>\n    </date_range>\n  </report_metadata>\n",
        f"  <policy_published>\n    <domain>{domain}</domain>\n    <adkim>r</adkim>\n"
        f"    <aspf>r</aspf>\n    <p>{rng.choice(('none', 'quarantine', 'reject'))}</p>\n"
        f"    <sp>none</sp>\n    <pct>100</pct>\n  </policy_published>\n",
    ]
    facts = []
    for i in range(n_records):
        ip, country = geo.draw_ip(rng)
        count = min(10_000, max(1, round(rng.lognormvariate(2.0, 1.5))))
        dkim = "pass" if rng.random() < 0.7 else "fail"
        spf = "pass" if rng.random() < 0.6 else "fail"
        count_text = "twelve" if defect == "bad_count" and i == n_records - 1 else str(count)
        # one record per line, no indentation and no DKIM selector (the
        # program's default 'none'): ~400 B a record, the density of the
        # reference's 2,286-record sample (909,324 B)
        parts.append(
            f"<record><row><source_ip>{ip}</source_ip><count>{count_text}</count>"
            f"<policy_evaluated><disposition>{rng.choice(DISPOSITIONS)}</disposition>"
            f"<dkim>{dkim}</dkim><spf>{spf}</spf></policy_evaluated></row>"
            f"<identifiers><header_from>{domain}</header_from></identifiers>"
            f"<auth_results><dkim><domain>{domain}</domain><result>{dkim}</result></dkim>"
            f"<spf><domain>{domain}</domain><result>{spf}</result></spf></auth_results>"
            "</record>\n"
        )
        facts.append((count, dkim == "pass" or spf == "pass", country))
    parts.append("</feedback>\n")
    xml = "".join(parts)
    if defect == "bad_xml":
        # cut inside the record list: unbalanced tags, from_xml corrupt record
        xml = xml[: len(xml) // 2]
    if defect is None:
        tally.reports += 1
        tally.report_ids.append(report_id)
        for count, aligned, country in facts:
            tally.records += 1
            tally.count_sum += count
            tally.aligned_sum += count if aligned else 0
            tally.country_sum[country] += count
            tally.day_sum[begin.date()] += count
    return xml.encode("utf-8")


def _mime(subject: str, msg_id: str, date: datetime, parts: list[str], boundary: str,
          ctype: str = "multipart/mixed", extra: str = "") -> bytes:
    head = (
        f"From: DMARC Reporter <noreply@reporter.example>\r\n"
        f"To: dmarc-rua@brand.example\r\n"
        f"Subject: {subject}\r\n"
        f"Date: {date.strftime('%a, %d %b %Y %H:%M:%S +0000')}\r\n"
        f"Message-ID: {msg_id}\r\n"
        f"MIME-Version: 1.0\r\n"
        f'Content-Type: {ctype}; boundary="{boundary}"{extra}\r\n\r\n'
        "This is a multi-part message in MIME format.\r\n\r\n"
    )
    body = "".join(f"--{boundary}\r\n{p}\r\n" for p in parts) + f"--{boundary}--\r\n"
    return (head + body).encode("utf-8")


def _b64_lines(data: bytes) -> str:
    enc = base64.b64encode(data).decode("ascii")
    return "\r\n".join(enc[i : i + 76] for i in range(0, len(enc), 76))


def wrap_aggregate(xml: bytes, container: str, report_id: str,
                   rng: random.Random) -> tuple[str, bytes]:
    """(file suffix, bytes) for one aggregate report in `container`."""
    name = f"reporter!brand!{report_id}"
    if container == "xml":
        return ".xml", xml
    if container == "gz":
        return ".xml.gz", gzip.compress(xml, mtime=0)
    if container in ("zip", "eml_zip"):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            info = zipfile.ZipInfo(f"{name}.xml", date_time=(2026, 1, 1, 0, 0, 0))
            zf.writestr(info, xml, zipfile.ZIP_DEFLATED)
        payload, ext, ctype = buf.getvalue(), ".zip", "application/zip"
    else:  # eml_gz / b64
        payload, ext, ctype = gzip.compress(xml, mtime=0), ".xml.gz", "application/gzip"
    if container == "zip":
        return ".zip", payload
    if container == "b64":
        return ".b64", base64.b64encode(xml)
    att = (
        f'Content-Type: {ctype}; name="{name}{ext}"\r\n'
        f"Content-Transfer-Encoding: base64\r\n"
        f'Content-Disposition: attachment; filename="{name}{ext}"\r\n\r\n'
        f"{_b64_lines(payload)}\r\n"
    )
    text = "Content-Type: text/plain; charset=utf-8\r\n\r\nDMARC aggregate report.\r\n"
    eml = _mime(f"Report Domain: brand.example Report-ID: {report_id}",
                f"<{report_id}@reporter.example>", AS_OF_DT, [text, att],
                f"b{rng.randrange(10**9)}")
    return ".eml", eml


def forensic_eml(rng: random.Random, geo: Geo, msg_no: str, tally: Tally) -> bytes:
    ip, _ = geo.draw_ip(rng)
    arrival = AS_OF_DT - timedelta(days=rng.randrange(0, 30), minutes=rng.randrange(1440))
    domain = rng.choice(DOMAINS)
    msg_id = f"<forensic-{msg_no}@reporter.example>"
    rfc_date = arrival.strftime("%a, %d %b %Y %H:%M:%S +0000")
    human = "Content-Type: text/plain; charset=us-ascii\r\n\r\nThis is an authentication failure report.\r\n"
    fb = (
        "Content-Type: message/feedback-report\r\n\r\n"
        "Feedback-Type: auth-failure\r\nUser-Agent: Reporter/1.0\r\nVersion: 1\r\n"
        f"Original-Mail-From: <bounce@{domain}>\r\nOriginal-Rcpt-To: <user@rcpt.example>\r\n"
        f"Arrival-Date: {rfc_date}\r\nSource-IP: {ip}\r\n"
        f"Reported-Domain: {domain}\r\n"
        f"Delivery-Result: {rng.choice(('reject', 'spam', 'delivered', 'policy'))}\r\n"
        f"Auth-Failure: {rng.choice(('dmarc', 'dkim', 'spf'))}\r\n"
        f"Authentication-Results: mx.rcpt.example; dmarc=fail header.from={domain}\r\n"
    )
    sample = (
        "Content-Type: text/rfc822-headers\r\n\r\n"
        f"Received: from mail.{domain} ([{ip}])\r\n"
        f"From: Someone <someone@{domain}>\r\nTo: user@rcpt.example\r\n"
        f"Subject: hello {msg_no}\r\nDate: {rfc_date}\r\n"
    )
    tally.forensic += 1
    tally.forensic_ids.append(msg_id)
    return _mime(f"FW: DMARC failure report for {domain}", msg_id, arrival,
                 [human, fb, sample], f"f{rng.randrange(10**9)}",
                 ctype="multipart/report", extra="; report-type=feedback-report")


def smtp_tls_json(rng: random.Random, report_id: str, tally: Tally) -> bytes:
    start = _report_begin(rng, 30)
    policies = []
    n_fail = 0
    for _ in range(rng.randint(1, 3)):
        details = [
            {
                "result-type": rng.choice(TLS_RESULT_TYPES),
                "sending-mta-ip": f"192.0.2.{rng.randrange(1, 255)}",
                "receiving-mx-hostname": f"mx{rng.randrange(3)}.brand.example",
                "failed-session-count": rng.randint(1, 40),
            }
            for _ in range(rng.randint(0, 3))
        ]
        n_fail += len(details)
        policies.append({
            "policy": {
                "policy-type": "sts",
                "policy-string": ["version: STSv1", "mode: enforce"],
                "policy-domain": rng.choice(DOMAINS),
                "mx-host-pattern": ["*.brand.example"],
            },
            "summary": {
                "total-successful-session-count": rng.randint(0, 5000),
                "total-failure-session-count": sum(d["failed-session-count"] for d in details),
            },
            "failure-details": details,
        })
    doc = {
        "organization-name": rng.choice(ORGS),
        "date-range": {
            "start-datetime": start.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "end-datetime": (start + timedelta(hours=23, minutes=59, seconds=59)).strftime(
                "%Y-%m-%dT%H:%M:%SZ"),
        },
        "contact-info": "smtp-tls-reporting@reporter.example",
        "report-id": report_id,
        "policies": policies,
    }
    tally.tls_reports += len(policies)
    tally.tls_failures += n_fail
    tally.tls_policies[report_id] = len(policies)
    return json.dumps(doc, indent=1).encode("utf-8")


def reject_file(rng: random.Random, geo: Geo, kind: str, report_id: str) -> tuple[str, bytes]:
    scratch = Tally()  # rejects contribute no rows
    if kind == "bad_utf8":
        body = aggregate_xml(rng, geo, report_id, 3, scratch)
        cut = body.index(b"<org_name>") + len(b"<org_name>")
        return ".xml", body[:cut] + b"\xff\xfe\xc3(" + body[cut:]
    return ".xml", aggregate_xml(rng, geo, report_id, 3, scratch, defect=kind)


# ---------------------------------------------------------------------------
# batches
# ---------------------------------------------------------------------------


def write_batch(out_dir: str, files: list[tuple[str, bytes]]) -> int:
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, data in files:
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def _split(rng: random.Random, total: int, parts: int) -> list[int]:
    """`total` split into `parts` positive random sizes."""
    cuts = sorted(rng.sample(range(1, total), parts - 1))
    return [b - a for a, b in zip([0, *cuts], [*cuts, total])]


def mixed_batch(rng: random.Random, geo: Geo, tag: str, n_files: int,
                n_records: int, window_days: int = WINDOW_DAYS
                ) -> tuple[list[tuple[str, bytes]], Tally]:
    """One daemon landing batch of exactly `n_files` files holding
    exactly `n_records` aggregate records. One file of each planted
    reject kind; the other files split 17:4:4 into aggregate, forensic
    and SMTP-TLS reports, the mix of the reference's sample corpus
    (BASELINE.md), with the aggregate reports in equal shares over
    AGG_CONTAINERS and at least 5 records each (FIXTURES.md gives
    ~5-50 records per report). File names are unique across batches
    (tag)."""
    tally = Tally()
    files: list[tuple[str, bytes]] = []
    n_valid = n_files - len(REJECT_KINDS)
    n_forensic = n_tls = max(1, round(n_valid * 4 / 25))
    n_agg = n_valid - n_forensic - n_tls
    sizes = [n + 4 for n in _split(rng, n_records - 4 * n_agg, n_agg)]
    for i, n in enumerate(sizes):
        rid = f"{tag}-agg-{i}"
        xml = aggregate_xml(rng, geo, rid, n, tally,
                            begin=_report_begin(rng, window_days))
        suffix, data = wrap_aggregate(xml, AGG_CONTAINERS[i % len(AGG_CONTAINERS)], rid, rng)
        files.append((f"{rid}{suffix}", data))
    for i in range(n_forensic):
        files.append((f"{tag}-forensic-{i}.eml", forensic_eml(rng, geo, f"{tag}-{i}", tally)))
    for i in range(n_tls):
        rid = f"{tag}-tls-{i}"
        files.append((f"{rid}.json", smtp_tls_json(rng, rid, tally)))
    for kind in REJECT_KINDS:
        suffix, data = reject_file(rng, geo, kind, f"{tag}-rej-{kind}")
        name = f"{tag}-rej-{kind}{suffix}"
        files.append((name, data))
        tally.rejects[kind] += 1
        tally.reject_files[name] = kind
    rng.shuffle(files)
    return files, tally


def large_reports(rng: random.Random, geo: Geo, tag: str, n_files: int,
                  n_records: int) -> tuple[list[tuple[str, bytes]], Tally]:
    """The one-shot backfill input: n_files big aggregate reports,
    alternating plain XML and gzip."""
    tally = Tally()
    files = []
    for i in range(n_files):
        rid = f"{tag}-large-{i}"
        xml = aggregate_xml(rng, geo, rid, n_records, tally)
        suffix, data = wrap_aggregate(xml, ("xml", "gz")[i % 2], rid, rng)
        files.append((f"{rid}{suffix}", data))
    return files, tally


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def write_documents(rng: random.Random, out_dir: str, n_docs: int = 5000) -> str:
    """`documents.parquet` with the columns and value domains of the
    repo's synthetic documents table (doc_id, text, lang, source,
    n_chars): 10-100 words from a 30-word vocabulary, 20 sources
    round-robin, one document in 20 ending in 'dup' and a few exact
    duplicate texts. Returns the directory, the curation gate's sf_dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = []
    for i in range(n_docs):
        if i % 625 == 7:  # exact duplicate of an earlier document
            texts.append(texts[i - 7])
            continue
        words = [rng.choice(WORDS) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir
