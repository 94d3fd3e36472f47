"""The benchmark's workloads. Each calls the program only through its
public entry points and checks every operation's output against the
generator's own tallies (gen.py) or against a property the method must
have; nothing is compared against a stored copy of earlier output.

- daemon_small_reports: `streaming.daemon.stream_ingest`, one fresh
  landing batch of small mixed-format files per operation, drained with
  available_now=True, enriched (GeoIP from GeoLite2-format CSVs + the
  vendored sender map), metrics textfile on.
- cli_large_reports: `cli.main` one-shot JSON backfill of a few
  2,286-record aggregate reports (plain and gzip).

Traced runs of either workload end with `read_side_layers`: one refresh
of every dashboard panel and one curation pipeline run, the layers no
timed workload runs.
"""

from __future__ import annotations

import json
import os
import random
import re
import time
from collections import Counter
from datetime import datetime, timedelta, timezone
from datetime import time as dt_time

import gen

# the five flat tables, which the dashboards read as views named dmarc_<table>
TABLES = ("aggregate_reports", "aggregate_records", "forensic_reports", "smtp_tls_reports",
          "smtp_tls_failures")


def _tag_of(ident: str) -> str:
    """Batch tag ('b3') of a generated id such as 'b3-agg-17'."""
    return ident.split("-", 1)[0]


def _check_reject(kind: str, got_kind: str, got_error: str) -> str | None:
    want_kind, want_error = gen.REJECT_REASON[kind]
    if got_kind != want_kind:
        return f"{kind}: reject kind {got_kind!r}, expected {want_kind!r}"
    if want_error is not None and not (got_error or "").startswith(want_error):
        return f"{kind}: reject reason {got_error!r}, expected {want_error!r}"
    return None


def _tally_errors(t: gen.Tally, reports: list, records: list, *, countries: bool) -> list[str]:
    """Aggregate-table checks shared by both workloads: report ids each
    exactly once, record count, Σcount, aligned Σcount, the alignment
    identity on every row, Σcount per country (enriched paths only) and
    every record's report_id naming exactly one report row."""
    errs = []
    got_ids = Counter(r["report_id"] for r in reports)
    if got_ids != Counter(t.report_ids):
        missing = set(t.report_ids) - set(got_ids)
        dup = [k for k, v in got_ids.items() if v > 1]
        errs.append(f"aggregate report ids differ: missing={sorted(missing)[:3]} "
                    f"duplicated={dup[:3]} extra={sorted(set(got_ids) - set(t.report_ids))[:3]}")
    if len(records) != t.records:
        errs.append(f"records {len(records)} != {t.records}")
    s = sum(r["count"] for r in records)
    if s != t.count_sum:
        errs.append(f"Σcount {s} != {t.count_sum}")
    a = sum(r["count"] for r in records if r["dmarc_aligned"])
    if a != t.aligned_sum:
        errs.append(f"aligned Σcount {a} != {t.aligned_sum}")
    bad = sum(1 for r in records if r["dmarc_aligned"] != (r["spf_aligned"] or r["dkim_aligned"]))
    if bad:
        errs.append(f"{bad} rows break dmarc_aligned = spf_aligned OR dkim_aligned")
    orphans = sum(1 for r in records if got_ids.get(r["report_id"]) != 1)
    if orphans:
        errs.append(f"{orphans} records without exactly one report row")
    if countries:
        by_country = Counter()
        for r in records:
            by_country[r["source_country"]] += r["count"]
        if by_country != t.country_sum:
            errs.append(f"Σcount by country differs: {dict(by_country - t.country_sum)} / "
                        f"{dict(t.country_sum - by_country)}")
    return errs


class Daemon:
    name = "daemon_small_reports"
    files_per_op = 300
    records_per_op = 3000
    # warm-up batches as (files, records): one full-size cold drain. It
    # pays for JIT and code generation (~25 s) whatever its size; at full
    # size it also runs the per-file and per-record code enough that the
    # first timed drain is less slow than after a 12-file cold drain,
    # where it was 10-30% slower than the second. A second warm-up drain
    # would add ~13 s a run, which the run budget lacks
    warmup_sizes = ((300, 3000),)
    # a round reports the median of two drains (their mean); a drain's
    # wall moves 10-20% from run to run on this VM, with CPU steal from
    # neighbouring VMs, and a third drain would not fit the run budget
    ops_per_round = 2

    def __init__(self, work: str, seed: int, quick: bool):
        self.work = work
        if quick:
            self.files_per_op, self.records_per_op = 12, 60
            self.warmup_sizes = ((12, 60),)
        self.warmup = len(self.warmup_sizes)
        self.rng = random.Random(seed)
        self.geo = gen.make_geo(self.rng)
        self.stage = os.path.join(work, "stage")
        self.landing = os.path.join(work, "landing")
        self.out = os.path.join(work, "tables")
        self.ckpt = os.path.join(work, "checkpoint")
        self.metrics = os.path.join(work, "metrics.prom")
        self.tallies: dict[str, gen.Tally] = {}
        self.bytes: dict[str, int] = {}
        self.k = 0
        os.makedirs(self.landing, exist_ok=True)

    def generate(self, n_ops: int) -> None:
        """Inputs for the warm-up plus up to n_ops operations, plus the
        GeoIP CSVs; tallies are written next to them."""
        os.makedirs(self.stage, exist_ok=True)
        self.blocks, self.locs = gen.write_geo_csvs(self.geo, self.stage)
        sizes = [*self.warmup_sizes, *[(self.files_per_op, self.records_per_op)] * n_ops]
        for k, (n_files, n_records) in enumerate(sizes):
            tag = f"b{k}"
            files, tally = gen.mixed_batch(self.rng, self.geo, tag, n_files, n_records)
            self.bytes[tag] = gen.write_batch(os.path.join(self.stage, tag), files)
            self.tallies[tag] = tally
        with open(os.path.join(self.stage, "tallies.json"), "w", encoding="utf-8") as f:
            json.dump({tag: t.to_json() for tag, t in self.tallies.items()}, f, indent=1)

    def setup(self, spark) -> None:
        self.spark = spark
        self.enrichment = make_enrichment(spark, self.blocks, self.locs)

    def remaining(self) -> int:
        return len(self.tallies) - self.k

    def land(self) -> str:
        """Move the next batch into the landing zone (not timed)."""
        tag = f"b{self.k}"
        self.k += 1
        os.rename(os.path.join(self.stage, tag), os.path.join(self.landing, tag))
        return tag

    def drain(self) -> None:
        from parsedmarc_go_spark.streaming.daemon import stream_ingest

        q = stream_ingest(self.spark, self.landing, self.out, self.ckpt, available_now=True,
                          enrichment=self.enrichment, metrics_path=self.metrics,
                          as_of=gen.AS_OF)
        q.awaitTermination()

    def op(self) -> tuple[str, float]:
        tag = self.land()
        t0 = time.perf_counter()
        self.drain()
        return tag, time.perf_counter() - t0

    def input_dir(self, tag: str) -> str:
        return os.path.join(self.landing, tag)

    def input_bytes(self, tag: str) -> int:
        return self.bytes[tag]

    def check(self, tags: list[str]) -> tuple[dict[str, list[str]], list[str]]:
        """Read the six tables back through read_stream_table once, after
        the run. Returns per-batch errors and run-level errors."""
        from parsedmarc_go_spark.streaming.daemon import read_stream_table

        cols = {
            "aggregate_reports": ["report_id"],
            "aggregate_records": ["report_id", "count", "dmarc_aligned", "spf_aligned",
                                  "dkim_aligned", "source_country"],
            "forensic_reports": ["message_id"],
            "smtp_tls_reports": ["report_id"],
            "smtp_tls_failures": ["report_id"],
            "rejects": ["path", "kind", "error"],
        }
        rows = {
            name: [r.asDict() for r in
                   read_stream_table(self.spark, self.out, name).select(*c).collect()]
            for name, c in cols.items()
        }
        by_tag: dict[str, dict[str, list]] = {t: {n: [] for n in cols} for t in tags}
        run_errs: list[str] = []
        for name, rs in rows.items():
            for r in rs:
                if name == "forensic_reports":
                    ident = r["message_id"].strip("<>").removeprefix("forensic-")
                elif name == "rejects":
                    ident = os.path.basename(r["path"])
                else:
                    ident = r["report_id"]
                tag = _tag_of(ident)
                if tag not in by_tag:
                    run_errs.append(f"{name}: row from no landed batch: {ident!r}")
                    continue
                by_tag[tag][name].append(r)
        errors = {}
        for tag in tags:
            t, got = self.tallies[tag], by_tag[tag]
            errs = _tally_errors(t, got["aggregate_reports"], got["aggregate_records"],
                                 countries=True)
            fids = Counter(r["message_id"] for r in got["forensic_reports"])
            if fids != Counter(t.forensic_ids):
                errs.append(f"forensic ids differ: {sorted(fids)[:3]} vs {t.forensic_ids[:3]}")
            tls = Counter(r["report_id"] for r in got["smtp_tls_reports"])
            if dict(tls) != t.tls_policies:
                errs.append(f"smtp_tls_reports rows per report differ: {dict(tls)}")
            if len(got["smtp_tls_failures"]) != t.tls_failures:
                errs.append(f"smtp_tls_failures {len(got['smtp_tls_failures'])} != {t.tls_failures}")
            rej = Counter(os.path.basename(r["path"]) for r in got["rejects"])
            if rej != Counter(t.reject_files.keys()):
                errs.append(f"rejected files differ: {dict(rej)} vs {t.reject_files}")
            for r in got["rejects"]:
                kind = t.reject_files.get(os.path.basename(r["path"]))
                e = kind and _check_reject(kind, r["kind"], r["error"])
                if e:
                    errs.append(e)
            if errs:
                errors[tag] = errs
        # the textfile's counters cover the batches of one stream_ingest
        # call, and each operation is one call with one micro-batch
        want = self.tallies[tags[-1]].reports
        got_prom = _prom_value(self.metrics, 'parsedmarc_parser_reports_total{type="aggregate"')
        if got_prom != want:
            run_errs.append(f"metrics textfile aggregate reports {got_prom} != {want}")
        return errors, run_errs

    # -- traced run ----------------------------------------------------
    def views(self, spark) -> dict:
        """The dashboards' five views over the tables the drains wrote."""
        from parsedmarc_go_spark.streaming.daemon import read_stream_table

        return {f"dmarc_{n}": read_stream_table(spark, self.out, n) for n in TABLES}

    def landed_tally(self) -> gen.Tally:
        """What the tables hold: every batch landed so far."""
        total = gen.Tally()
        for k in range(self.k):
            total.add(self.tallies[f"b{k}"])
        return total

    def traced_op(self, spans, op_id: str) -> tuple[str, float, dict]:
        """One operation with spans around the program's batch body and
        table writes (module functions stream_ingest looks up at call
        time)."""
        from parsedmarc_go_spark.streaming import daemon
        from tracing import patched, timed

        def batch_wrap(make):
            def make_timed(*a, **kw):
                body = make(*a, **kw)

                def process(batch, batch_id):
                    with spans.span("streaming.batch", op_id):
                        body(batch, batch_id)

                return process

            return make_timed

        before = _dir_usage(self.out)
        with patched(daemon, "make_batch_processor", batch_wrap), \
                patched(daemon, "_write_table", timed(spans, "sinks.emit", op_id)):
            tag, wall = self.op()
        after = _dir_usage(self.out)
        extra = {
            "body_s": spans.total("streaming.batch", op_id),
            "emit_s": spans.total("sinks.emit", op_id),
            "files_written": after[0] - before[0],
            "bytes_written": after[1] - before[1],
        }
        return tag, wall, extra


class Cli:
    name = "cli_large_reports"
    files_per_op = 4  # alternately plain XML and gzip
    records_per_file = 2286  # the reference's BenchmarkParseLargeReport shape
    # warm-up: one one-shot on a small input of the same two containers;
    # the cold one pays for JIT and code generation whatever its size
    warmup = 1
    ops_per_round = 1

    def __init__(self, work: str, seed: int, quick: bool):
        self.work = work
        if quick:
            self.files_per_op, self.records_per_file = 2, 200
        self.records_per_op = self.files_per_op * self.records_per_file
        self.rng = random.Random(seed)
        self.geo = gen.make_geo(self.rng)
        self.k = 0

    def generate(self, n_ops: int) -> None:
        self.inputs = {}
        tallies = {}
        for name, n_files, n_records in (("warm", 2, 50),
                                         ("full", self.files_per_op, self.records_per_file)):
            d = os.path.join(self.work, f"input-{name}")
            files, tally = gen.large_reports(self.rng, self.geo, name, n_files, n_records)
            self.inputs[name] = (d, tally, gen.write_batch(d, files))
            tallies[name] = tally.to_json()
        self.blocks, self.locs = gen.write_geo_csvs(self.geo, self.work)
        with open(os.path.join(self.work, "tallies.json"), "w", encoding="utf-8") as f:
            json.dump(tallies, f, indent=1)

    def setup(self, spark) -> None:
        self.spark = spark

    def remaining(self) -> int:
        return 1 << 30

    def _input(self, tag: str):
        return self.inputs["warm" if tag == "c0" else "full"]

    def op(self) -> tuple[str, float]:
        from parsedmarc_go_spark import cli

        tag = f"c{self.k}"
        self.k += 1
        argv = ["-input", self._input(tag)[0], "-format", "json",
                "-output", self.output_path(tag), "-as-of", gen.AS_OF]
        t0 = time.perf_counter()
        rc = cli.main(argv)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        return tag, wall

    def input_dir(self, tag: str) -> str:
        return self._input(tag)[0]

    def input_bytes(self, tag: str) -> int:
        return self._input(tag)[2]

    def output_path(self, tag: str) -> str:
        return os.path.join(self.work, f"out-{tag}.ndjson")

    def check_one(self, tag: str) -> list[str]:
        """Parse the operation's NDJSON without Spark and compare with
        the tallies; the file is removed afterwards."""
        path = self.output_path(tag)
        reports, records, other = [], [], 0
        with open(path, encoding="utf-8") as f:
            for line in f:
                row = json.loads(line)
                if "xml_schema" in row:
                    reports.append(row)
                elif "dmarc_aligned" in row:
                    records.append(row)
                else:
                    other += 1
        os.remove(path)
        errs = _tally_errors(self._input(tag)[1], reports, records, countries=False)
        if other:
            errs.append(f"{other} rows from families the input does not contain")
        return errs

    def views(self, spark) -> dict:
        """The dashboards' five views over the one-shot's tables for the
        full input, written once to parquet (the CLI keeps no tables)."""
        from parsedmarc_go_spark.sources.ingest import ingest

        res = ingest(spark, self.inputs["full"][0], as_of=gen.AS_OF)
        views = {}
        for n in TABLES:
            path = os.path.join(self.work, "tables", n)
            getattr(res, n).write.parquet(path)
            views[f"dmarc_{n}"] = spark.read.parquet(path)
        return views

    def landed_tally(self) -> gen.Tally:
        return self.inputs["full"][1]

    def traced_op(self, spans, op_id: str) -> tuple[str, float, dict]:
        """One one-shot with spans around run_one_shot (looked up by
        cli.main at call time) and around every driver collect."""
        import pyspark.rdd
        import pyspark.sql

        from parsedmarc_go_spark import cli
        from tracing import patched, timed

        emit = timed(spans, "sinks.emit", op_id)
        with patched(cli, "run_one_shot", timed(spans, "cli.one_shot", op_id)), \
                patched(pyspark.rdd.RDD, "collect", emit), \
                patched(pyspark.sql.DataFrame, "collect", emit):
            tag, wall = self.op()
        size = os.path.getsize(self.output_path(tag))
        extra = {
            "body_s": spans.total("cli.one_shot", op_id),
            "emit_s": spans.total("sinks.emit", op_id),
            "files_written": 1,
            "bytes_written": size,
        }
        return tag, wall, extra


def make_enrichment(spark, blocks_csv: str, locations_csv: str):
    """GeoIP dimension from the generated GeoLite2-format CSVs plus the
    vendored sender map."""
    from parsedmarc_go_spark.functions.enrich import EnrichmentContext
    from parsedmarc_go_spark.functions.enrichdims import geo_dim_from_csv, load_dns_map

    return EnrichmentContext(geo_dim=geo_dim_from_csv(spark, blocks_csv, locations_csv),
                             dns_map=load_dns_map(spark))


def _dir_usage(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size


def _prom_value(path: str, prefix: str) -> float | None:
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith(prefix):
                return float(re.split(r"\s+", line.strip())[-1])
    return None


def layer_breakdown(spark, spans, op_id: str, input_dir: str, enrichment) -> dict:
    """Each layer's public functions over one operation's input, each
    step materialized into the noop sink, so a step's self time is its
    wall minus the wall of the step it builds on."""
    from parsedmarc_go_spark.functions.enrich import enrich_records
    from parsedmarc_go_spark.sources.ingest import (
        extract_reports,
        parse_aggregate,
        parse_forensic,
        parse_smtp_tls,
        read_report_files,
    )

    def noop(df, name: str) -> float:
        with spans.span(name, op_id) as s:
            df.write.format("noop").mode("overwrite").save()
        return s.end - s.start

    files = read_report_files(spark, input_dir)
    scan = noop(files, "sources.scan")
    extracted = extract_reports(files).cache()
    try:
        extract = noop(extracted, "sources.extract") - scan
        agg_reports, agg_records, agg_bad = parse_aggregate(extracted, gen.AS_OF)
        forensic = parse_forensic(extracted, gen.AS_OF)
        tls_reports, tls_failures, tls_bad = parse_smtp_tls(extracted, gen.AS_OF)
        walls = [
            (df, noop(df, "functions.parse"))
            for df in (agg_records, forensic, agg_reports, agg_bad, tls_reports,
                       tls_failures, tls_bad)
        ]
        parse = sum(w for _, w in walls)
        # enrichment applies to aggregate records and forensic reports
        enrich = sum(noop(enrich_records(df, enrichment), "functions.enrich") - w
                     for df, w in walls[:2])
    finally:
        extracted.unpersist()
    return {"scan_s": scan, "extract_s": extract, "parse_s": parse, "enrich_s": enrich}


def read_side_layers(spark, spans, counters, views: dict, tally: gen.Tally,
                     docs_dir: str) -> tuple[dict, list[str]]:
    """The layers no timed workload runs, measured once after the traced
    rounds: one refresh of every panel in DASHBOARD_QUERIES over `views`
    (per panel: driver-side planning, then the collect), and one run of
    the curation_pipeline gate over the generated corpus in `docs_dir`
    with its per-stage boundary walls. Returns the metrics and the
    errors of the message-volume panels against `tally`, the
    generator's figures for the rows behind `views`."""
    from parsedmarc_go_spark.plans.curation import curation_pipeline_stage_walls
    from parsedmarc_go_spark.plans.dashboards import (
        DASHBOARD_QUERIES,
        register_views,
        run_dashboard_query,
    )

    register_views(spark, views)
    out, rows = {}, {}
    plan = execute = 0.0
    mark = counters.mark()
    t0 = time.perf_counter()
    with spans.span("dashboards.refresh", "read-side"):
        for name in DASHBOARD_QUERIES:
            with spans.span(f"dashboards.{name}", "read-side") as s:
                df = run_dashboard_query(spark, name, as_of=gen.AS_OF)
                df._jdf.queryExecution().executedPlan()
                planned = time.perf_counter()
                rows[name] = df.collect()
            plan += planned - s.start
            execute += s.end - planned
            out[f"dashboards.{name}_s"] = s.end - s.start
    eng = counters.since(mark, time.perf_counter() - t0)
    out.update({
        "dashboards.plan_s": plan,
        "dashboards.exec_s": execute,
        "dashboards.jobs": eng["jobs"],
        "dashboards.files_read": eng["parquet_files_read"],
        "dashboards.bytes_read": eng["input_bytes"],
    })

    def since(days: int) -> dict:
        cutoff = gen.AS_OF_DT - timedelta(days=days)
        return {d: c for d, c in tally.day_sum.items()
                if datetime.combine(d, dt_time(), timezone.utc) >= cutoff}

    errs = []
    daily = {r["date"]: r["total_messages"] for r in rows["overview_daily_volume"]}
    if daily != since(30):
        errs.append(f"overview_daily_volume {daily} != generator's {since(30)}")
    total = rows["overview_total_messages_7d"][0]["total"] or 0
    if total != sum(since(7).values()):
        errs.append(f"overview_total_messages_7d {total} != generator's {sum(since(7).values())}")
    with spans.span("curation.pipeline", "read-side"):
        walls = curation_pipeline_stage_walls(spark, docs_dir)
    for stage, wall in walls.items():
        if stage != "__total":
            out[f"curation.{stage.strip('_').removesuffix('_collect')}_s"] = wall
    return out, errs
