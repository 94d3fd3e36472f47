"""Milestones 3+4: partitioned storage layout, ReplacingMergeTree-style
dedup, materialized summaries, and batch/stream parity."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SAMPLES = "/root/reference/samples"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SAMPLES), reason="reference sample corpus not available"
)


@pytest.fixture(scope="module")
def ingested(spark):
    from parsedmarc_go_spark.sources.ingest import ingest

    return ingest(spark, SAMPLES)


def test_partitioned_write_and_pruning(spark, ingested, tmp_path):
    from parsedmarc_go_spark.storage import read_table, write_partitioned

    path = str(tmp_path / "records")
    write_partitioned(ingested.aggregate_records, path, mode="overwrite")
    back = read_table(spark, path)
    assert back.count() == ingested.aggregate_records.count()
    # partition values are type-inferred back as yyyyMM ints
    months = {int(r.month) for r in back.select("month").distinct().collect()}
    assert all(190001 <= m <= 210012 for m in months)
    # partition pruning: a month filter must reach PartitionFilters
    plan = back.filter(F.col("month") == sorted(months)[0])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(month" in plan, plan[:800]


def test_bloom_filters_physically_written(spark, ingested, tmp_path):
    """storage.py claims parquet bloom filters on report_id; verify the
    claim on the READ side — a bloom filter parquet-hadoop's footer
    reader can deserialize from the written file, not just a write
    option string."""
    import glob

    from parsedmarc_go_spark.storage import bloom_filter_columns, write_partitioned

    path = str(tmp_path / "records")
    write_partitioned(ingested.aggregate_records, path, mode="overwrite")
    data_file = glob.glob(os.path.join(path, "month=*", "*.parquet"))[0]
    with_bloom = bloom_filter_columns(spark, data_file)
    assert "report_id" in with_bloom
    assert "org_name" not in with_bloom  # only the configured columns pay the space


def test_latest_by_key_dedup(spark, ingested):
    from parsedmarc_go_spark.storage import latest_by_key

    # the corpus contains the same report id ingested multiple times
    # (extract_report/ repeats) — ReplacingMergeTree semantics keep one
    deduped = latest_by_key(ingested.aggregate_reports, ["report_id"], "created_at")
    ids = [r.report_id for r in deduped.select("report_id").collect()]
    assert len(ids) == len(set(ids))
    assert len(ids) < ingested.aggregate_reports.count()


def test_summaries(spark, ingested):
    from parsedmarc_go_spark.storage import compliance_summary, daily_summary, source_ip_summary

    rec = ingested.aggregate_records
    ds = daily_summary(rec)
    assert ds.filter(F.col("total_messages") <= 0).count() == 0
    cs = compliance_summary(rec).collect()
    assert all(0 <= r.pass_rate <= 100 for r in cs)
    ips = source_ip_summary(rec)
    assert ips.count() > 0
    # invariant: aligned ≤ total everywhere
    assert ds.filter(F.col("aligned_messages") > F.col("total_messages")).count() == 0


@pytest.mark.slow  # >10 s wall: excluded from the default lane (run -m "")
def test_stream_matches_batch(spark, ingested, tmp_path):
    """Batch/stream parity (SURVEY §5.2 item 4): one availableNow pass
    over the same corpus produces identical flat tables."""
    from parsedmarc_go_spark.streaming.daemon import stream_ingest

    out = str(tmp_path / "out")
    q = stream_ingest(
        spark,
        SAMPLES,
        out,
        str(tmp_path / "ckpt"),
        available_now=True,
        max_files_per_trigger=7,  # force multiple micro-batches
    )
    q.awaitTermination(120)

    from parsedmarc_go_spark.streaming.daemon import read_stream_table

    stream_records = read_stream_table(spark, out, "aggregate_records")
    batch_records = ingested.aggregate_records
    assert stream_records.count() == batch_records.count()
    assert "__batch_id" not in stream_records.columns
    key = ["report_id", "source_ip_address", "header_from", "count"]
    s = stream_records.select(*key).exceptAll(batch_records.select(*key))
    b = batch_records.select(*key).exceptAll(stream_records.select(*key))
    assert s.count() == 0 and b.count() == 0, "stream and batch fact rows differ"
    assert read_stream_table(spark, out, "forensic_reports").count() == 4
    rejects = read_stream_table(spark, out, "rejects")
    assert rejects.count() == 3


def test_stream_batch_replay_is_idempotent(spark, tmp_path):
    """ADVICE r1: a crash between foreachBatch's five writes replays the
    whole batch on restart — re-running the SAME batch_id must replace
    its own output, not append duplicates."""
    from parsedmarc_go_spark.streaming.daemon import make_batch_processor, read_stream_table

    batch = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(os.path.join(SAMPLES, "aggregate"))
        .select("path", "length", "content")
    )
    out = str(tmp_path / "out")
    proc = make_batch_processor(out)
    proc(batch, 0)
    first = {
        t: read_stream_table(spark, out, t).count()
        for t in ("aggregate_reports", "aggregate_records", "rejects")
    }
    assert first["aggregate_records"] > 0
    proc(batch, 0)  # crash-replay of the same micro-batch
    second = {
        t: read_stream_table(spark, out, t).count()
        for t in ("aggregate_reports", "aggregate_records", "rejects")
    }
    assert second == first, f"replay duplicated rows: {first} -> {second}"
    proc(batch, 1)  # a NEW batch id appends
    assert (
        read_stream_table(spark, out, "aggregate_records").count()
        == 2 * first["aggregate_records"]
    )


def test_crash_between_table_writes_replays_clean(spark, tmp_path, monkeypatch):
    """The exactly-once claim, under the failure it is designed for: one
    of the batch's 6 concurrent table writes dies while the others land,
    the checkpointed source replays the batch with the SAME batch_id on
    restart, and the final tables must equal a never-crashed run — the
    pre-crash tables overwritten in place, never appended twice."""
    from parsedmarc_go_spark.streaming import daemon
    from parsedmarc_go_spark.streaming.daemon import make_batch_processor, read_stream_table

    batch = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(os.path.join(SAMPLES, "aggregate"))
        .select("path", "length", "content")
    )
    def table_counts(out: str) -> dict[str, int]:
        # empty frames write no partition files under partitionBy, so an
        # all-rejected family's table dir is unreadable-by-design: count 0
        import glob

        return {
            t: (
                read_stream_table(spark, out, t).count()
                if glob.glob(os.path.join(out, t, "__batch_id=*", "*.parquet"))
                else 0
            )
            for t in daemon.STREAM_TABLES
        }

    clean_out = str(tmp_path / "clean")
    make_batch_processor(clean_out)(batch, 0)
    expected = table_counts(clean_out)
    assert expected["aggregate_records"] > 0

    crash_out = str(tmp_path / "crashed")
    real_write = daemon._write_table

    def dying_write(df, out_dir, name, batch_id):
        # by table name, not call order: the writes run concurrently
        if name == "aggregate_records":
            raise RuntimeError("injected: daemon killed before aggregate_records")
        real_write(df, out_dir, name, batch_id)

    monkeypatch.setattr(daemon, "_write_table", dying_write)
    with pytest.raises(RuntimeError, match="injected"):
        make_batch_processor(crash_out)(batch, 0)
    written = [
        t for t in daemon.STREAM_TABLES
        if os.path.isdir(os.path.join(crash_out, t, "__batch_id=0"))
    ]
    assert "aggregate_records" not in written and written, (
        f"crash should leave a partial commit, got {written}"
    )

    monkeypatch.setattr(daemon, "_write_table", real_write)  # "restart"
    make_batch_processor(crash_out)(batch, 0)  # source replays batch_id 0
    got = table_counts(crash_out)
    assert got == expected, f"replay after partial commit diverged: {expected} -> {got}"


def test_batch_processor_publishes_cumulative_metrics(spark, tmp_path):
    """The daemon's per-batch counters are cumulative (like the
    reference's in-process Prometheus counters, metrics.go:24-179) and
    published atomically for the receiver's /metrics bridge."""
    from parsedmarc_go_spark.streaming.daemon import make_batch_processor

    batch = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(os.path.join(SAMPLES, "aggregate"))
        .select("path", "length", "content")
    )
    mpath = str(tmp_path / "metrics.prom")
    proc = make_batch_processor(str(tmp_path / "out"), metrics_path=mpath)
    proc(batch, 0)
    text1 = open(mpath).read()
    assert "# TYPE parsedmarc_parser_reports_total counter" in text1
    import re

    def agg_count(text: str) -> int:
        m = re.search(
            r'parsedmarc_parser_reports_total\{type="aggregate",source="stream"\} (\d+)', text
        )
        return int(m.group(1))

    n1 = agg_count(text1)
    assert n1 > 0
    proc(batch, 1)
    assert agg_count(open(mpath).read()) == 2 * n1  # cumulative, not last-batch


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located bucketed join: both sides bucketed on the join key →
    SortMergeJoin with zero Exchange operators (the 100 TB fact⋈fact
    path; broadcast covers small dims)."""
    from parsedmarc_go_spark.storage import write_bucketed
    from parsedmarc_go_spark.tables import load

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        li = load(spark, "/root/testdata/sf0.001", "lineitem")
        orders = load(spark, "/root/testdata/sf0.001", "orders")
        write_bucketed(li, "b_lineitem", "l_orderkey", 8, ("l_orderkey",), str(tmp_path / "li"))
        write_bucketed(orders, "b_orders", "o_orderkey", 8, ("o_orderkey",), str(tmp_path / "or"))
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            spark.table("b_lineitem").l_orderkey == spark.table("b_orders").o_orderkey,
        )
        n = joined.count()
        assert n == 6000  # every lineitem has its order
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_compact_table(spark, ingested, tmp_path):
    """Streaming micro-batches leave many small files; compaction
    rewrites to the computed file count with identical content."""
    import glob

    from parsedmarc_go_spark.storage import compact_table

    src = str(tmp_path / "frag")
    # fragment: one file per tiny partition
    ingested.aggregate_records.repartition(24).write.parquet(src)
    assert len(glob.glob(src + "/*.parquet")) == 24
    out = str(tmp_path / "compacted")
    n = compact_table(spark, src, out, target_file_mb=256)
    assert n == 1  # tiny table → single file
    assert len(glob.glob(out + "/*.parquet")) == 1
    assert spark.read.parquet(out).count() == ingested.aggregate_records.count()


def test_compact_landing_row_identity_and_fewer_files(spark, tmp_path):
    """SCALE.md's binaryFile small-file trade-off, executed: compact the
    raw landing zone into monthly parquet, prove (1) many files became
    few, (2) every (path, content) byte pair survived, (3) ingesting
    from the archive yields tables identical to ingesting the raw dir."""
    from parsedmarc_go_spark.sources.ingest import ingest, ingest_files
    from parsedmarc_go_spark.storage import compact_landing, read_compacted_landing

    land = os.path.join(SAMPLES, "aggregate")
    n_raw_files = sum(len(fs) for _, _, fs in os.walk(land))
    archive = str(tmp_path / "landing_archive")
    n_rows = compact_landing(spark, land, archive)
    assert n_rows == n_raw_files

    import glob as _glob

    n_parquet = len(_glob.glob(archive + "/**/*.parquet", recursive=True))
    assert 0 < n_parquet < n_raw_files, (n_parquet, n_raw_files)
    # month partition directories exist (the landing analogue of toYYYYMM)
    assert _glob.glob(archive + "/month=*"), os.listdir(archive)

    back = read_compacted_landing(spark, archive)
    raw = spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(land)
    raw_set = {(r.path, bytes(r.content)) for r in raw.select("path", "content").collect()}
    back_set = {(r.path, bytes(r.content)) for r in back.select("path", "content").collect()}
    assert back_set == raw_set

    as_of = "2024-09-01 00:00:00"
    direct = ingest(spark, land, as_of=as_of)
    archived = ingest_files(back, as_of=as_of)
    for table in ("aggregate_reports", "aggregate_records", "rejects"):
        a = sorted(map(str, getattr(direct, table).collect()))
        b = sorted(map(str, getattr(archived, table).collect()))
        assert a == b, f"{table}: archive ingest != raw ingest"
