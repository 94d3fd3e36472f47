"""The shared ingest fan-out on report trees built here, so it runs
without the reference sample corpus: the CLI one-shot reads each input
file once and leaves no cached plan behind, the daemon's batch body
writes the same tables as `ingest()` and releases its cache when a
table write fails, a daemon drain lists its files on the driver and
writes one file per table, its metrics counters equal the tables and
survive a replay, and every aggregate reject carries its own reason."""

from __future__ import annotations

import glob
import gzip
import importlib.util
import json
import os
import random
import re
import sys

import pytest

AS_OF = "2024-01-15 00:00:00"


def _aggregate_xml(report_id: str, counts: list[str], end: str = "1700086399",
                   begin: str = "1700000000") -> str:
    records = "".join(
        f"<record><row><source_ip>192.0.2.{i + 1}</source_ip><count>{c}</count>"
        "<policy_evaluated><disposition>none</disposition><dkim>pass</dkim>"
        "<spf>fail</spf></policy_evaluated></row>"
        "<identifiers><header_from>example.com</header_from></identifiers>"
        "<auth_results><spf><domain>example.com</domain><result>fail</result></spf>"
        "</auth_results></record>"
        for i, c in enumerate(counts)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?><feedback><report_metadata>'
        f"<org_name>Example Org</org_name><email>dmarc@example.org</email>"
        f"<report_id>{report_id}</report_id><date_range><begin>{begin}</begin>"
        f"<end>{end}</end></date_range></report_metadata><policy_published>"
        "<domain>example.com</domain><p>none</p></policy_published>"
        f"{records}</feedback>"
    )


_TLS_REPORT = {
    "organization-name": "Example Org",
    "date-range": {"start-datetime": "2024-01-01T00:00:00Z",
                   "end-datetime": "2024-01-01T23:59:59Z"},
    "contact-info": "tls@example.org",
    "report-id": "tls-1",
    "policies": [{
        "policy": {"policy-type": "sts", "policy-string": ["version: STSv1"],
                   "policy-domain": "example.com", "mx-host-pattern": ["*.example.com"]},
        "summary": {"total-successful-session-count": 10,
                    "total-failure-session-count": 2},
        "failure-details": [{"result-type": "certificate-expired",
                             "sending-mta-ip": "192.0.2.9",
                             "receiving-mx-hostname": "mx.example.com",
                             "failed-session-count": 2}],
    }],
}


@pytest.fixture(scope="module")
def report_tree(tmp_path_factory) -> str:
    """Plain and gzip aggregate XML (3 records), one SMTP-TLS JSON and
    one aggregate report cut mid-tag."""
    d = tmp_path_factory.mktemp("reports")
    (d / "plain.xml").write_text(_aggregate_xml("agg-1", ["3", "4"]))
    (d / "packed.xml.gz").write_bytes(gzip.compress(_aggregate_xml("agg-2", ["5"]).encode()))
    (d / "tls.json").write_text(json.dumps(_TLS_REPORT))
    (d / "bad.xml").write_text(_aggregate_xml("agg-3", ["1"])[:150])
    return str(d)


N_FILES = 4


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _sql_executions(spark) -> list:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return _seq(spark._jsparkSession.sharedState().statusStore().executionsList())


def _files_read(spark, after_exec: int, scan: str = "binaryFile") -> int:
    """Σ 'number of files read' over the `Scan <scan>` nodes of the SQL
    executions after `after_exec`. A cached read does not count: the
    metric is posted once, when the scan lists its files."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in _sql_executions(spark):
        if e.executionId() <= after_exec:
            continue
        values = store.executionMetrics(e.executionId())
        for node in _seq(store.planGraph(e.executionId()).allNodes()):
            if not node.name().startswith(f"Scan {scan}"):
                continue
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of files read" and v.isDefined():
                    total += int(str(v.get()).replace(",", ""))
    return total


def test_aggregate_reject_reasons(spark):
    """Each quarantined aggregate report names its own cause; a
    non-integer <count> is not reported as an over-long time span."""
    from parsedmarc_go_spark.sources.ingest import parse_aggregate

    payloads = {
        "good": _aggregate_xml("ok", ["1"]),
        "cut": _aggregate_xml("cut", ["1"])[:150],
        "bad_date": _aggregate_xml("bd", ["1"], begin="yesterday"),
        "bad_count": _aggregate_xml("bc", ["2", "twelve"]),
        "long_span": _aggregate_xml("ls", ["1"], end=str(1700000000 + 72 * 3600)),
    }
    extracted = spark.createDataFrame(
        [(p, "aggregate", x) for p, x in payloads.items()],
        "path string, kind string, payload string",
    )
    reports, _, bad = parse_aggregate(extracted)
    assert [r.report_id for r in reports.collect()] == ["ok"]
    assert {r.path: (r.kind, r.error) for r in bad.collect()} == {
        "cut": ("aggregate", "xml parse failed"),
        "bad_date": ("aggregate", "invalid date range"),
        "bad_count": ("aggregate", "invalid record count"),
        "long_span": ("aggregate", "time span > 24 hours - RFC 7489 section 7.2"),
    }


def test_one_shot_reads_each_file_once(spark, report_tree, tmp_path, capsys):
    from parsedmarc_go_spark.cli import main

    spark.catalog.clearCache()  # start from a known-empty CacheManager
    last_exec = max((e.executionId() for e in _sql_executions(spark)), default=-1)
    out = tmp_path / "out.ndjson"
    rc = main(["-input", report_tree, "-format", "json", "-output", str(out),
               "-as-of", AS_OF, "-config", str(tmp_path / "absent.yaml")])
    assert rc == 0

    rows = [json.loads(line) for line in out.read_text().splitlines()]
    reports = [r for r in rows if "xml_schema" in r]
    records = [r for r in rows if "dmarc_aligned" in r]
    tls_reports = [r for r in rows if "successful_session_count" in r]
    tls_failures = [r for r in rows if "result_type" in r]
    assert sorted(r["report_id"] for r in reports) == ["agg-1", "agg-2"]
    assert sorted(r["count"] for r in records) == [3, 4, 5]
    assert [(r["report_id"], r["policy_domain"]) for r in tls_reports] == [("tls-1", "example.com")]
    assert [r["result_type"] for r in tls_failures] == ["certificate-expired"]
    assert len(rows) == 2 + 3 + 1 + 1
    assert {r["created_at"] for r in reports} == {"2024-01-15T00:00:00.000Z"}

    err = [line for line in capsys.readouterr().err.splitlines() if line.startswith("reject:")]
    assert len(err) == 1 and err[0].endswith("/bad.xml: xml parse failed"), err

    # six collects, one scan: every later output read the cached frames
    assert _files_read(spark, last_exec) == N_FILES
    assert _cache_is_empty(spark), "the one-shot left a cached plan behind"


def test_batch_processor_matches_ingest_and_releases_cache_on_crash(
    spark, report_tree, tmp_path, monkeypatch
):
    from parsedmarc_go_spark import caching
    from parsedmarc_go_spark.sources.ingest import ingest, read_report_files
    from parsedmarc_go_spark.streaming import daemon

    def tables(out: str) -> dict[str, list[str]]:
        # an empty table writes no partition files under partitionBy
        return {
            t: sorted(map(repr, daemon.read_stream_table(spark, out, t).collect()))
            if glob.glob(os.path.join(out, t, "__batch_id=*", "*.parquet"))
            else []
            for t in daemon.STREAM_TABLES
        }

    spark.catalog.clearCache()  # start from a known-empty CacheManager
    batch = read_report_files(spark, report_tree)  # the stream's (path, length, content)
    clean = str(tmp_path / "clean")
    daemon.make_batch_processor(clean, as_of=AS_OF)(batch, 0)
    assert _cache_is_empty(spark)
    with caching.scope():
        res = ingest(spark, report_tree, as_of=AS_OF)
        expected = {t: sorted(map(repr, getattr(res, t).collect())) for t in daemon.STREAM_TABLES}
    got = tables(clean)
    assert got == expected
    assert len(got["aggregate_records"]) == 3 and len(got["rejects"]) == 1

    real_write = daemon._write_table

    def dying_write(df, out_dir, name, batch_id):
        # by table name, not call order: the writes run concurrently
        if name == "aggregate_records":
            raise RuntimeError("injected: daemon killed before aggregate_records")
        real_write(df, out_dir, name, batch_id)

    crashed = str(tmp_path / "crashed")
    monkeypatch.setattr(daemon, "_write_table", dying_write)
    with pytest.raises(RuntimeError, match="injected"):
        daemon.make_batch_processor(crashed, as_of=AS_OF)(batch, 0)
    assert _cache_is_empty(spark), "a failed batch left its cached plans behind"
    landed = [t for t in daemon.STREAM_TABLES
              if os.path.isdir(os.path.join(crashed, t, "__batch_id=0"))]
    assert "aggregate_records" not in landed and landed, landed

    monkeypatch.setattr(daemon, "_write_table", real_write)
    daemon.make_batch_processor(crashed, as_of=AS_OF)(batch, 0)  # replay of batch 0
    assert tables(crashed) == expected


def test_unscoped_reingest_sees_new_files(spark, tmp_path):
    """Outside a scope, a second `ingest()` of a directory rescans it:
    the first call's cached frames are released, not served again."""
    from parsedmarc_go_spark import caching
    from parsedmarc_go_spark.sources.ingest import ingest

    spark.catalog.clearCache()  # start from a known-empty CacheManager
    (tmp_path / "a.xml").write_text(_aggregate_xml("agg-a", ["1"]))
    (tmp_path / "b.xml").write_text(_aggregate_xml("agg-b", ["2"]))
    first = ingest(spark, str(tmp_path), as_of=AS_OF)
    assert first.aggregate_reports.count() == 2
    assert first.aggregate_records.count() == 2

    (tmp_path / "c.xml").write_text(_aggregate_xml("agg-c", ["3", "4"]))
    second = ingest(spark, str(tmp_path), as_of=AS_OF)
    try:
        assert second.aggregate_reports.count() == 3
        assert second.aggregate_records.count() == 4
        assert len(caching._LIVE) == 2, "the first call's frames were not released"
    finally:
        caching.release_intermediates()
    assert _cache_is_empty(spark)


def _generator():
    """The benchmark's seeded report generator, imported read-only."""
    path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "gen.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    gen = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen


def _jobs_after(spark, after_job: int) -> list:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))
    return [j for j in jobs if j.jobId() > after_job]


def _prom_counters(text: str) -> dict[str, int]:
    """'name{labels}' -> value for every sample line of a textfile."""
    return {m[1]: int(m[2]) for m in re.finditer(r"^([^#\n].*) (\d+)$", text, re.M)}


def _table_counters(spark, out: str) -> dict[str, int]:
    """The counters the daemon must publish, recomputed from its tables."""
    from parsedmarc_go_spark.metrics import escape_label_value
    from parsedmarc_go_spark.streaming.daemon import REPORT_FAMILIES, read_stream_table

    def rows(t: str):
        has_files = glob.glob(os.path.join(out, t, "__batch_id=*", "*.parquet"))
        return read_stream_table(spark, out, t) if has_files else None

    want = {}
    for table, family in REPORT_FAMILIES.items():
        df = rows(table)
        want[f'parsedmarc_parser_reports_total{{type="{family}",source="stream"}}'] = (
            df.count() if df is not None else 0)
    rejects = rows("rejects")
    for r in rejects.groupBy("kind", "error").count().collect() if rejects is not None else []:
        want[f'parsedmarc_parser_failures_total{{type="{r["kind"]}",source="stream",'
             f'reason="{escape_label_value(r["error"] or "")}"}}'] = r["count"]
    return want


def test_daemon_drain_lists_on_driver_and_writes_one_file_per_table(spark, tmp_path):
    """A drain of more than 32 files (the parallel listing threshold)
    runs no listing job, writes each non-empty table as one parquet
    file, and publishes counters equal to the tables it wrote."""
    from parsedmarc_go_spark.streaming.daemon import STREAM_TABLES, stream_ingest

    gen = _generator()
    rng = random.Random(11)
    files, tally = gen.mixed_batch(rng, gen.make_geo(rng), "t", n_files=40, n_records=160)
    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    gen.write_batch(landing, files)
    mpath = str(tmp_path / "metrics.prom")

    spark.catalog.clearCache()  # start from a known-empty CacheManager
    last_job = max((j.jobId() for j in _jobs_after(spark, -1)), default=-1)
    q = stream_ingest(spark, landing, out, str(tmp_path / "ckpt"), available_now=True,
                      metrics_path=mpath, as_of=gen.AS_OF)
    q.awaitTermination()
    assert q.lastProgress["numInputRows"] == len(files)

    descriptions = [j.description().getOrElse(None) or "" for j in _jobs_after(spark, last_job)]
    assert not [d for d in descriptions if d.startswith("Listing leaf files")], descriptions

    per_table = {t: len(glob.glob(os.path.join(out, t, "__batch_id=0", "*.parquet")))
                 for t in STREAM_TABLES}
    assert per_table == dict.fromkeys(STREAM_TABLES, 1), per_table
    assert _cache_is_empty(spark)

    got = _prom_counters(open(mpath).read())
    assert got == _table_counters(spark, out)
    assert got['parsedmarc_parser_reports_total{type="aggregate",source="stream"}'] == tally.reports
    assert got['parsedmarc_parser_reports_total{type="forensic",source="stream"}'] == tally.forensic
    failures = sum(v for k, v in got.items() if k.startswith("parsedmarc_parser_failures_total"))
    assert failures == sum(tally.rejects.values())


def test_batch_processor_counters_survive_replay(spark, report_tree, tmp_path):
    """Replaying batch 0 leaves every counter as it was; batch 1 adds
    its own contribution."""
    from parsedmarc_go_spark.sources.ingest import read_report_files
    from parsedmarc_go_spark.streaming.daemon import make_batch_processor

    batch = read_report_files(spark, report_tree)
    out, mpath = str(tmp_path / "out"), str(tmp_path / "metrics.prom")
    proc = make_batch_processor(out, metrics_path=mpath, as_of=AS_OF)
    proc(batch, 0)
    first = _prom_counters(open(mpath).read())
    assert first == _table_counters(spark, out)
    assert first == {
        'parsedmarc_parser_reports_total{type="aggregate",source="stream"}': 2,
        'parsedmarc_parser_reports_total{type="forensic",source="stream"}': 0,
        'parsedmarc_parser_reports_total{type="smtp_tls",source="stream"}': 1,
        'parsedmarc_parser_failures_total{type="aggregate",source="stream",'
        'reason="xml parse failed"}': 1,
    }

    proc(batch, 0)  # crash-replay of the same micro-batch
    assert _prom_counters(open(mpath).read()) == first
    proc(batch, 1)
    assert _prom_counters(open(mpath).read()) == {k: 2 * v for k, v in first.items()}
    assert _prom_counters(open(mpath).read()) == _table_counters(spark, out)


def test_malformed_as_of_raises_before_any_job(spark, tmp_path):
    """ingest_ts and stream_ingest reject a malformed as_of with a
    ValueError naming the expected form; no query starts."""
    from parsedmarc_go_spark.functions.normalize import ingest_ts
    from parsedmarc_go_spark.streaming.daemon import stream_ingest

    for bad in ("garbage", "2024-02-30 00:00:00", "2024-01-15 00:00:00; DROP"):
        with pytest.raises(ValueError, match="yyyy-MM-dd HH:mm:ss"):
            ingest_ts(bad)
        with pytest.raises(ValueError, match="yyyy-MM-dd HH:mm:ss"):
            stream_ingest(spark, str(tmp_path / "landing"), str(tmp_path / "out"),
                          str(tmp_path / "ckpt"), available_now=True, as_of=bad)
    assert not spark.streams.active
    assert spark.range(1).select(ingest_ts(AS_OF).cast("string")).first()[0] == AS_OF


@pytest.fixture(scope="module")
def enriched_batches(tmp_path_factory) -> tuple[str, str, list[str]]:
    """GeoLite2-format CSVs and two 40-file mixed batches from the
    benchmark's generator: (blocks csv, locations csv, batch dirs)."""
    gen = _generator()
    rng = random.Random(23)
    geo = gen.make_geo(rng)
    d = tmp_path_factory.mktemp("enriched")
    blocks, locs = gen.write_geo_csvs(geo, str(d))
    dirs = []
    for k in range(2):
        files, _ = gen.mixed_batch(rng, geo, f"e{k}", n_files=40, n_records=160)
        dirs.append(str(d / f"e{k}"))
        gen.write_batch(dirs[-1], files)
    return blocks, locs, dirs


def test_batch_pays_only_for_its_own_files(spark, enriched_batches, tmp_path, monkeypatch):
    """An enriched micro-batch builds its plan in under 2,000 py4j
    commands, the second batch of a run reads no CSV file (the context
    prepared its dims once), both batches' tables equal
    enrich_records(ingest(...)), and release() frees the dims."""
    from parsedmarc_go_spark import caching
    from parsedmarc_go_spark.functions.enrich import EnrichmentContext, enrich_records
    from parsedmarc_go_spark.functions.enrichdims import geo_dim_from_csv, load_dns_map
    from parsedmarc_go_spark.sources.ingest import ingest, read_report_files
    from parsedmarc_go_spark.streaming import daemon

    blocks, locs, dirs = enriched_batches
    as_of = _generator().AS_OF
    spark.catalog.clearCache()  # start from a known-empty CacheManager
    ctx = EnrichmentContext(geo_dim=geo_dim_from_csv(spark, blocks, locs),
                            dns_map=load_dns_map(spark))
    out = str(tmp_path / "out")
    proc = daemon.make_batch_processor(out, ctx, as_of=as_of)
    client = spark.sparkContext._gateway._gateway_client
    real_send = client.send_command
    sent = []

    def counting_send(*args, **kwargs):
        sent.append(1)
        return real_send(*args, **kwargs)

    csv_files_read = []
    for k, d in enumerate(dirs):
        batch = read_report_files(spark, d)
        last_exec = max((e.executionId() for e in _sql_executions(spark)), default=-1)
        sent.clear()
        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting_send)
            proc(batch, k)
        assert len(sent) < 2000, f"batch {k}: {len(sent)} py4j commands"
        csv_files_read.append(_files_read(spark, last_exec, "csv"))
    assert csv_files_read[0] > 0 and csv_files_read[1] == 0, csv_files_read

    for k, d in enumerate(dirs):
        with caching.scope():
            res = ingest(spark, d, as_of=as_of)
            for name in daemon.STREAM_TABLES:
                want = getattr(res, name)
                if name in ("aggregate_records", "forensic_reports"):
                    want = enrich_records(want, ctx)
                got = (spark.read.parquet(os.path.join(out, name))
                       .filter(f"__batch_id = {k}").drop("__batch_id"))
                assert got.columns == want.columns
                rows = sorted(map(repr, got.collect()))
                assert rows and rows == sorted(map(repr, want.collect())), (k, name)
    ctx.release()
    assert _cache_is_empty(spark), "release() left the prepared dims cached"


def test_batch_fill_runs_one_task_per_core(spark, enriched_batches, tmp_path):
    """A batch read in more partitions than cores is extracted in at
    most defaultParallelism tasks: no job of the batch runs more."""
    from parsedmarc_go_spark.sources.ingest import read_report_files
    from parsedmarc_go_spark.streaming.daemon import make_batch_processor

    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.minPartitionNum", str(4 * cores))
    try:
        batch = read_report_files(spark, enriched_batches[2][0])
        assert batch.rdd.getNumPartitions() > cores
        last_job = max((j.jobId() for j in _jobs_after(spark, -1)), default=-1)
        make_batch_processor(str(tmp_path / "out"), as_of=AS_OF)(batch, 0)
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    tasks = [j.numTasks() for j in _jobs_after(spark, last_job)]
    assert tasks and max(tasks) <= cores, tasks
