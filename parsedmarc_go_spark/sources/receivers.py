"""Landing-zone receivers (SURVEY S15/S16): the thin out-of-engine
processes that feed the streaming daemon's file-drop directory.

The reference embeds an HTTP server (internal/http/server.go:353-420)
and an IMAP poll loop (internal/imap/client.go:98-171) in its daemon;
in the Spark architecture these are deliberately *outside* the engine —
they land raw payload files, and `streaming.daemon.stream_ingest` owns
parsing with exactly-once semantics (SURVEY §3.2/§3.3 "Spark shape").

- `ReportHTTPReceiver`: stdlib HTTP server; POST/PUT bodies →
  `{landing_dir}/http_{utc-ts}_{sha16}.bin` after the reference's
  content-type whitelist (server.go:424-444) and size cap. Per-client-IP
  token-bucket rate limiting (server.go:239-309: rate_limit/min with
  rate_burst capacity, 429 + retry_after on exhaustion; <=0 disables)
  and live `GET /metrics` + `GET /health` endpoints
  (server.go:85-91) are built in; production still fronts many of
  these behind an LB.
- `imap_candidate_filter`: the DMARC-mail predicate of
  client.go:174-232 (subject keywords / attachment types), factored
  pure so it is testable without a mailbox; `fetch_imap_once` applies
  it over imaplib and lands `.eml` files (network — gated by caller).
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
import uuid
from collections import Counter
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlsplit

MAX_UPLOAD = 50 * 1024 * 1024  # config.go:219 http.max_upload_size
RATE_LIMIT = 60  # config.go:217 http.rate_limit (requests/minute)
RATE_BURST = 10  # config.go:218 http.rate_burst

# server.go:424-444 content-type whitelist
ACCEPTED_CONTENT_TYPES = (
    "application/xml",
    "text/xml",
    "application/zip",
    "application/gzip",
    "application/x-gzip",
    "application/json",
    "application/tlsrpt+json",
    "application/tlsrpt+gzip",
    "message/rfc822",
)

# client.go:174-232: subject keywords marking DMARC candidate mail
DMARC_SUBJECT_KEYWORDS = ("report domain", "dmarc", "tls report", "tlsrpt")
DMARC_ATTACHMENT_SUFFIXES = (".xml", ".xml.gz", ".zip", ".gz", ".json", ".json.gz", ".eml")


def _land(landing_dir: str, prefix: str, payload: bytes, ext: str = "bin") -> str:
    ts = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S_%f")
    sha = hashlib.sha256(payload).hexdigest()[:16]
    # uuid component: identical payloads posted concurrently must each
    # land (at-least-once parity with the reference's HTTP handler) —
    # ts+sha alone collides and would silently overwrite
    path = os.path.join(landing_dir, f"{prefix}_{ts}_{sha}_{uuid.uuid4().hex[:8]}.{ext}")
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.rename(tmp, path)  # atomic: the stream never sees partial files
    return path


class _TokenBucket:
    """server.go:294-309 semantics (golang.org/x/time/rate): refill at
    rate_limit/60 tokens per second up to `burst` capacity; each request
    spends one token. Monotonic clock; callers hold the registry lock."""

    __slots__ = ("rate", "burst", "tokens", "last")

    def __init__(self, rate_per_sec: float, burst: int):
        self.rate = rate_per_sec
        self.burst = float(burst)
        self.tokens = float(burst)
        self.last = time.monotonic()

    def allow(self) -> bool:
        now = time.monotonic()
        self.tokens = min(self.burst, self.tokens + (now - self.last) * self.rate)
        self.last = now
        if self.tokens >= 1.0:
            self.tokens -= 1.0
            return True
        return False


def _endpoint_label(path: str) -> str:
    # server.go getEndpointLabel buckets
    if path.startswith("/dmarc/report"):
        return "dmarc_report"
    if path.startswith("/health"):
        return "health"
    if path.startswith("/metrics"):
        return "metrics"
    return "root" if path == "/" else "other"


class ReportHTTPReceiver:
    """POST /dmarc/report → landing-zone file. Start/stop for tests and
    small deployments; production fronts many of these behind an LB.

    `metrics_textfile` bridges engine-side metrics into the scrape
    surface: the streaming daemon (or any batch job) renders its
    DataFrame-derived counters with metrics.to_prometheus_textfile, and
    GET /metrics serves that file's contents alongside the receiver's
    own in-process HTTP counters — one endpoint, both layers, like the
    reference's shared Prometheus registry (server.go:85-91)."""

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        rate_limit: int = RATE_LIMIT,
        rate_burst: int = RATE_BURST,
        max_upload: int = MAX_UPLOAD,
        metrics_textfile: str | None = None,
    ):
        os.makedirs(landing_dir, exist_ok=True)
        landing = landing_dir
        limiters: dict[str, _TokenBucket] = {}
        limiter_lock = threading.Lock()
        counters: Counter[tuple[str, str, str]] = Counter()  # (method, endpoint, status)
        received = {"reports": 0, "bytes": 0}
        stats_lock = threading.Lock()
        self._counters, self._stats_lock = counters, stats_lock

        class Handler(BaseHTTPRequestHandler):
            def _count(self, status: int) -> None:
                with stats_lock:
                    counters[(self.command, _endpoint_label(self.path), str(status))] += 1

            def _allow(self) -> bool:
                if rate_limit <= 0:
                    return True
                with limiter_lock:
                    bucket = limiters.get(self.client_address[0])
                    if bucket is None:
                        bucket = _TokenBucket(rate_limit / 60.0, rate_burst)
                        limiters[self.client_address[0]] = bucket
                    return bucket.allow()

            # every request is counted before its reply goes out: a
            # client holding the reply may scrape /metrics right away
            def _json(self, status: int, body: bytes) -> None:
                self._count(status)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

            def _handle(self) -> None:
                if not self._allow():
                    # server.go:249-257: 429 + retry_after, logged per IP
                    self._json(429, b'{"error":"Rate limit exceeded","retry_after":"60s"}')
                    return
                # gin routes on the path with the query string excluded
                # (server.go router); stdlib self.path keeps it — strip.
                if urlsplit(self.path).path not in ("/dmarc/report", "/dmarc/report/"):
                    self._count(404)
                    self.send_error(404)
                    return
                ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
                if ctype not in ACCEPTED_CONTENT_TYPES:
                    self._count(415)
                    self.send_error(415, f"unsupported content type {ctype!r}")
                    return
                length = int(self.headers.get("Content-Length") or 0)
                if length <= 0:
                    self._count(400)
                    self.send_error(400, "empty body")
                    return
                if length > max_upload:
                    self._count(413)
                    self.send_error(413, f"body exceeds {max_upload} byte limit")
                    return
                body = self.rfile.read(length)
                _land(landing, "http", body)
                with stats_lock:
                    received["reports"] += 1
                    received["bytes"] += len(body)
                self._json(200, b'{"status":"accepted"}')

            def do_GET(self) -> None:
                if not self._allow():
                    self._json(429, b'{"error":"Rate limit exceeded","retry_after":"60s"}')
                    return
                if self.path.startswith("/health"):
                    self._json(200, b'{"status":"ok"}')
                    return
                if self.path.startswith("/metrics"):
                    lines: list[str] = [
                        "# TYPE parsedmarc_http_requests_total counter"
                    ]
                    with stats_lock:
                        for (method, endpoint, status), n in sorted(counters.items()):
                            lines.append(
                                "parsedmarc_http_requests_total"
                                f'{{method="{method}",endpoint="{endpoint}",status="{status}"}} {n}'
                            )
                        lines.append("# TYPE parsedmarc_http_reports_received_total counter")
                        lines.append(
                            f"parsedmarc_http_reports_received_total {received['reports']}"
                        )
                        lines.append("# TYPE parsedmarc_http_reports_received_bytes counter")
                        lines.append(
                            f"parsedmarc_http_reports_received_bytes {received['bytes']}"
                        )
                    if metrics_textfile and os.path.exists(metrics_textfile):
                        with open(metrics_textfile, encoding="utf-8") as f:
                            lines.append(f.read().rstrip("\n"))
                    payload = ("\n".join(lines) + "\n").encode()
                    self._count(200)
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain; version=0.0.4")
                    self.end_headers()
                    self.wfile.write(payload)
                    return
                self._count(404)
                self.send_error(404)

            do_POST = _handle
            do_PUT = _handle

            def log_message(self, *args) -> None:  # quiet
                pass

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def imap_candidate_filter(subject: str, attachment_names: list[str]) -> bool:
    """client.go:174-232 semantics: a message is a DMARC candidate if the
    subject carries a report keyword or any attachment looks like a
    report payload."""
    subj = (subject or "").lower()
    if any(k in subj for k in DMARC_SUBJECT_KEYWORDS):
        return True
    return any(
        (name or "").lower().endswith(DMARC_ATTACHMENT_SUFFIXES) for name in attachment_names
    )


def fetch_imap_once(
    host: str,
    username: str,
    password: str,
    landing_dir: str,
    mailbox: str = "INBOX",
    archive_mailbox: str | None = "Archive",
    port: int | None = None,
    use_ssl: bool = True,
    ssl_context=None,
) -> list[str]:
    """One poll cycle: fetch candidate messages, land them as .eml,
    archive (or leave) the originals. Network side effect — callers gate
    it exactly like the reference's offline flag. ``port``/``use_ssl``
    mirror the reference client's host:port + TLS toggle (client.go
    connection options) — and let tests drive the full protocol against
    an in-process IMAP stub (tests/imap_server_stub.py), the same
    executed-evidence pattern as the Kafka wire stub. ``ssl_context``
    (an ``ssl.SSLContext``) serves private-CA deployments — and the
    TLS-wrapped stub, which proves the verified-handshake path with a
    context trusting only the test CA; ``None`` keeps stdlib default
    verification (the reference's crypto/tls default, client.go:37-84)."""
    import email
    import imaplib

    os.makedirs(landing_dir, exist_ok=True)
    landed: list[str] = []
    if use_ssl:
        conn_ctx = imaplib.IMAP4_SSL(
            host, port or 993, ssl_context=ssl_context
        )
    else:
        conn_ctx = imaplib.IMAP4(host, port or 143)
    with conn_ctx as conn:
        conn.login(username, password)
        conn.select(mailbox)
        # UNSEEN, not ALL: processed mail is always marked (archived /
        # deleted / \Seen below), so repeated polls never re-land the
        # same message — the reference likewise always archives or
        # deletes what it processed (client.go:363-390)
        _, data = conn.search(None, "UNSEEN")
        for num in data[0].split():
            _, msg_data = conn.fetch(num, "(RFC822)")
            raw = msg_data[0][1]
            msg = email.message_from_bytes(raw)
            names = [p.get_filename() or "" for p in msg.walk()]
            if not imap_candidate_filter(str(msg.get("Subject", "")), names):
                # fetch already set \Seen — non-candidates are simply
                # not revisited on the next poll
                continue
            landed.append(_land(landing_dir, "imap", raw, ext="eml"))
            if archive_mailbox:
                conn.copy(num, archive_mailbox)
                conn.store(num, "+FLAGS", "\\Deleted")
            else:
                # processed-but-kept: mark explicitly so idempotence does
                # not rely on the implicit fetch side effect
                conn.store(num, "+FLAGS", "\\Seen")
        conn.expunge()
    return landed


def watch_imap(
    host: str,
    username: str,
    password: str,
    landing_dir: str,
    mailbox: str = "INBOX",
    archive_mailbox: str | None = "Archive",
    check_interval: float = 300.0,
    stop_event: "threading.Event | None" = None,
    max_polls: int | None = None,
    port: int | None = None,
    use_ssl: bool = True,
    ssl_context=None,
) -> int:
    """Continuous poll loop (client.go:397-409 Watch): fetch_imap_once
    every `check_interval` seconds until `stop_event` is set (or
    `max_polls` cycles, for tests). Network errors are logged and the
    loop continues — one bad poll must not kill the daemon. Returns the
    total number of landed files."""
    import logging

    ev = stop_event or threading.Event()
    total = 0
    polls = 0
    while not ev.is_set():
        try:
            total += len(
                fetch_imap_once(
                    host, username, password, landing_dir, mailbox,
                    archive_mailbox, port=port, use_ssl=use_ssl,
                    ssl_context=ssl_context,
                )
            )
        except OSError as exc:  # connection/auth/protocol failures
            logging.getLogger(__name__).warning("imap poll failed: %s", exc)
        polls += 1
        if max_polls is not None and polls >= max_polls:
            break
        ev.wait(check_interval)
    return total
