"""CLI one-shot + daemon (cmd/parsedmarc-go/main.go:28-130 parity).

The CSV assertion is the VERDICT r1 'done' bar: running the CLI over
the reference aggregate samples produces output byte-identical to the
tested K2 projection rendered through the same Spark CSV writer.
"""

from __future__ import annotations

import json
import os

import pytest

from parsedmarc_go_spark.cli import _spark_csv_lines, build_arg_parser, main, run_daemon
from parsedmarc_go_spark.config import load_config

SAMPLES = "/root/reference/samples"

needs_samples = pytest.mark.skipif(
    not os.path.isdir(SAMPLES), reason="reference sample corpus not available"
)


def test_version_flag(capsys):
    assert main(["-version"]) == 0
    assert "parsedmarc-go-spark version" in capsys.readouterr().out


def test_flag_surface_matches_reference():
    p = build_arg_parser()
    # Go flag surface (main.go:29-37): both -flag and --flag accepted
    ns = p.parse_args(
        ["-input", "a", "--output", "b", "-format", "csv", "-config", "c"]
    )
    assert (ns.input, ns.output, ns.format, ns.config) == ("a", "b", "csv", "c")


def test_malformed_as_of_is_a_usage_error(tmp_path, capsys):
    """A malformed -as-of stops the CLI at argument parsing, naming the
    expected form, instead of failing inside the first Spark job."""
    for bad in ("garbage", "2024-13-01 00:00:00", "2024-01-15 25:00:00", "15/01/2024"):
        with pytest.raises(SystemExit) as exit_info:
            main(["-input", str(tmp_path), "-as-of", bad,
                  "-config", str(tmp_path / "absent.yaml")])
        assert exit_info.value.code == 2
        err = capsys.readouterr().err
        assert "-as-of" in err and "yyyy-MM-dd HH:mm:ss" in err and repr(bad) in err, err
    for good in ("2024-01-15 00:00:00", "2024-01-15", "2024-01-15T00:00:00.5Z", ""):
        assert build_arg_parser().parse_args(["-as-of", good]).as_of == good


def test_invalid_format_fails(spark, tmp_path, capsys):
    # `spark` fixture first: the CLI's getOrCreate must reuse the tuned
    # test session, not create a default-heap one for the whole suite
    d = tmp_path / "in"
    d.mkdir()
    (d / "x.xml").write_bytes(b"<feedback></feedback>")
    rc = main(["-input", str(d), "-format", "xml", "-config", str(tmp_path / "nope.yaml")])
    assert rc == 1
    assert "Invalid output format" in capsys.readouterr().err


@needs_samples
@pytest.mark.slow  # >10 s wall: excluded from the default lane (run -m "")
def test_one_shot_csv_matches_k2_projection(spark, tmp_path, capsys):
    from parsedmarc_go_spark.sinks.writers import aggregate_csv_projection
    from parsedmarc_go_spark.sources.ingest import ingest

    out = str(tmp_path / "report.csv")
    rc = main(
        [
            "-input", os.path.join(SAMPLES, "aggregate"),
            "-format", "csv",
            "-output", out,
            "-config", str(tmp_path / "absent.yaml"),
        ]
    )
    assert rc == 0
    with open(out, encoding="utf-8") as f:
        got = f.read().splitlines()

    res = ingest(spark, os.path.join(SAMPLES, "aggregate"))
    expected = _spark_csv_lines(aggregate_csv_projection(res.aggregate_reports, res.aggregate_records))
    assert got == expected, "CLI CSV diverges from the tested K2 projection"
    assert got[0].startswith("report_id,org_name,org_email,begin_date,end_date,domain")
    # rejects from the aggregate sample dir surface on stderr
    err = capsys.readouterr().err
    assert "invalid_xml.xml" in err or "reject" in err


@needs_samples
def test_one_shot_json_stdout(spark, capsys, tmp_path):
    rc = main(
        [
            "-input", os.path.join(SAMPLES, "forensic"),
            "-format", "json",
            "-config", str(tmp_path / "absent.yaml"),
        ]
    )
    assert rc == 0
    out_lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(out_lines) == 4  # 4 forensic samples
    parsed = [json.loads(l) for l in out_lines]
    assert all("feedback_type" in p for p in parsed)


@needs_samples
def test_daemon_boots_from_config_file(spark, tmp_path):
    """VERDICT r1 'done' bar for the config system: daemon boots from a
    config file and lands -> parses -> writes all five tables."""
    import shutil
    import urllib.request

    from parsedmarc_go_spark.streaming.daemon import STREAM_TABLES, read_stream_table

    from tests.test_enrichdims import _build_mmdb

    landing = tmp_path / "landing"
    landing.mkdir()
    mmdb = tmp_path / "tiny.mmdb"
    mmdb.write_bytes(_build_mmdb())
    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(
        f"""
parser:
  offline: true
  ip_db_path: {mmdb}
engine:
  landing_dir: {landing}
  output_dir: {tmp_path / 'warehouse'}
  checkpoint_dir: {tmp_path / 'ckpt'}
  trigger_seconds: 1
http:
  enabled: true
  host: 127.0.0.1
  port: 0
"""
    )
    cfg = load_config(str(cfg_file), env={})
    assert cfg.http.enabled and cfg.engine.trigger_seconds == 1

    # pre-land one of each family (the drain pass parses everything)
    shutil.copy(
        os.path.join(SAMPLES, "aggregate", "!example.com!1538204542!1538463818.xml"),
        landing / "agg.xml",
    )
    for name in os.listdir(os.path.join(SAMPLES, "smtp_tls")):
        shutil.copy(os.path.join(SAMPLES, "smtp_tls", name), landing / name)
    for name in os.listdir(os.path.join(SAMPLES, "forensic")):
        shutil.copy(os.path.join(SAMPLES, "forensic", name), landing / name)
    # one invalid file → the rejects quarantine is exercised too
    shutil.copy(os.path.join(SAMPLES, "aggregate", "invalid_xml.xml"), landing / "bad.xml")

    rc = run_daemon(spark, cfg, available_now=True)
    assert rc == 0
    out = str(tmp_path / "warehouse")
    # the metrics bridge published cumulative ingest counters
    mtext = open(os.path.join(out, "metrics.prom")).read()
    assert 'parsedmarc_parser_reports_total{type="aggregate",source="stream"}' in mtext
    counts = {t: read_stream_table(spark, out, t).count() for t in STREAM_TABLES}
    assert counts["aggregate_reports"] >= 1
    assert counts["aggregate_records"] >= 1
    assert counts["forensic_reports"] == 4
    assert counts["smtp_tls_reports"] == 4
    assert counts["smtp_tls_failures"] == 7
    assert counts["rejects"] >= 1
    # config-driven enrichment ran in-stream: the tiny mmdb covers all
    # of IPv4 (two /1 networks), so every record with a valid source IP
    # got a real country instead of the offline 'Unknown' default
    rec = read_stream_table(spark, out, "aggregate_records")
    countries = {r.source_country for r in rec.collect()}
    assert countries <= {"United States", "Germany", "Unknown"}
    assert countries & {"United States", "Germany"}, countries
    # sender classification ran with the vendored map (reverse_dns is ''
    # offline, so all rows classify Unknown — but the columns went
    # through the join, proving the wiring)
    assert {r.source_type for r in rec.collect()} == {"Unknown"}
