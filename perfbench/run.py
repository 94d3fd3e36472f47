"""Benchmark entry point.

    python3 perfbench/run.py --workload daemon_small_reports --seed 1 --seconds 1 --trace 0

Generates the workload's inputs from --seed, starts the program's own
session (`session.local_spark(nproc)`, every other setting left at the
program's default), runs the warm-up operations, then runs operations
one after another (a closed loop with one client) for --seconds, checks
every output, and prints one JSON object as the last line of stdout.

--trace 0 reports the end-to-end metrics; --trace 1 is the separate
traced run that reports the per-layer metrics and writes its spans to
.perfbench_work/traces/. All files the run makes stay inside the
checkout, under .perfbench_work/, and the per-run directory is removed
at the end.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shutil
import signal
import subprocess
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _program_importable() -> bool:
    spec = importlib.util.find_spec("parsedmarc_go_spark")
    return spec is not None and os.path.dirname(spec.origin or "").startswith(ROOT + os.sep)


def _confine(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files in `work` and
    let the Python workers import the program from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)


def _descendants() -> set[int]:
    """Pids of every live process below this one, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(d))
    found, todo = set(), [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            found.add(c)
            todo.append(c)
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and its Python workers and
    wait until each has exited. On its own the JVM exits only some time
    after this process does, when it reads end-of-file on its stdin."""
    from pyspark import SparkContext

    kids = _descendants()
    try:
        if spark is not None:
            spark.stop()
    except Exception:  # noqa: BLE001 - a call cut short by SIGTERM leaves py4j unusable
        traceback.print_exc()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        kids |= _descendants()
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may be gone already
                pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in kids) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in kids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        deadline = time.monotonic() + 10
        while any(_alive(p) for p in kids) and time.monotonic() < deadline:
            time.sleep(0.05)


def run(args) -> dict:
    import workloads

    cls = {c.name: c for c in (workloads.Daemon, workloads.Cli)}
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _confine(work)
    spark = None
    try:
        w = cls[args.workload](work, args.seed, args.quick)
        # enough inputs for the fastest plausible operation rate; a round
        # takes at most two operations, the traced run's rounds four
        w.generate(2 * (int(args.seconds) + 4))
        if args.trace:
            from gen import write_documents

            docs_dir = write_documents(random.Random(args.seed), os.path.join(work, "docs"))

        t0 = time.perf_counter()  # set-up clock starts after input generation
        from parsedmarc_go_spark.session import local_spark

        spark = local_spark(len(os.sched_getaffinity(0)))
        session_start_s = time.perf_counter() - t0
        print(f"session {session_start_s:.2f} s", file=sys.stderr)
        w.setup(spark)
        warm_tags, warm_walls, warm_failed = [], [], []
        for _ in range(w.warmup):
            _op_checked(w, warm_tags, warm_walls, warm_failed)
        setup_s = time.perf_counter() - t0
        if args.trace:
            result = _measure_traced(args, w, spark, session_start_s, docs_dir)
        else:
            result = _measure(args, w)
        errors, run_errs = _check(w, warm_tags, result["tags"])
        run_errs += result.get("run_errs", [])
        for tag, errs in errors.items():
            print(f"check failed on {tag}: {errs}", file=sys.stderr)
        for e in run_errs:
            print(f"check failed: {e}", file=sys.stderr)
        failed_tags = set(result["failed"]) | (set(errors) & set(result["tags"]))
        ok_walls = [wl for tag, wl in zip(result["tags"], result["walls"])
                    if tag not in failed_tags]
        correct = (not run_errs and not warm_failed and not (set(errors) & set(warm_tags))
                   and bool(ok_walls))
        attempted = len(result["tags"]) + len(result["failed"])
        # no successful operation: the run is incorrect and its rates read 0
        med = statistics.median(ok_walls) if ok_walls else float("inf")
        print(f"{args.workload} seed={args.seed} trace={args.trace}: "
              f"{len(ok_walls)} timed operations (median of {len(ok_walls)}), "
              f"walls={[round(x, 3) for x in result['walls']]}, "
              f"{w.warmup} warm-up, setup {setup_s:.2f} s, "
              f"{w.files_per_op} files / {w.records_per_op} records per operation")
        if args.trace:
            metrics = result["metrics"]
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "reports_per_s": {"value": w.files_per_op / med, "unit": "1/s"},
                "records_per_s": {"value": w.records_per_op / med, "unit": "1/s"},
            }
        return {"correct": correct, "attempted": attempted,
                "failed": len(failed_tags), "metrics": metrics}
    finally:
        try:
            if "pyspark" in sys.modules:
                _stop_spark(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)


def _op_checked(w, tags, walls, failed, traced=None):
    """One operation; an exception counts it as failed."""
    try:
        tag, wall, *extra = traced() if traced else w.op()
    except Exception:  # noqa: BLE001 - a failing operation is recorded, not fatal
        traceback.print_exc()
        failed.append(f"failed-{len(failed)}")
        return None
    print(f"operation {tag}: {wall:.3f} s", file=sys.stderr)
    if hasattr(w, "check_one"):
        errs = w.check_one(tag)
        if errs:
            print(f"check failed on {tag}: {errs}", file=sys.stderr)
            failed.append(tag)
            return None
    tags.append(tag)
    walls.append(wall)
    return tag, wall, *extra


def _measure(args, w) -> dict:
    tags, walls, failed = [], [], []
    t_m = time.perf_counter()
    while time.perf_counter() - t_m < args.seconds and w.remaining() >= w.ops_per_round:
        for _ in range(w.ops_per_round):  # whole rounds only
            _op_checked(w, tags, walls, failed)
    return {"tags": tags, "walls": walls, "failed": failed}


def _check(w, warm_tags, tags):
    if hasattr(w, "check"):
        return w.check(warm_tags + tags)
    return {}, []


def _measure_traced(args, w, spark, session_start_s: float, docs_dir: str) -> dict:
    """Rounds of one plain and one traced operation, in alternating
    order, each followed by the layer breakdown over the traced
    operation's input, for --seconds and at least one round; then, once,
    the read-side layers (dashboards, curation) that no timed workload
    runs. One round keeps a daemon traced run near two minutes; its
    plain operation runs first, so the warm-up's tail makes the tracing
    overhead read low by up to the decay between two operations."""
    from tracing import SparkCounters, Spans
    from workloads import layer_breakdown, make_enrichment, read_side_layers

    spans, counters = Spans(), SparkCounters(spark)
    enrichment = getattr(w, "enrichment", None) or make_enrichment(spark, w.blocks, w.locs)
    tags, walls, failed = [], [], []
    plain, rounds = [], []
    t_m = time.perf_counter()

    def plain_op():
        r = _op_checked(w, tags, walls, failed)
        if r:
            plain.append(r[1])

    n = 0
    while n < 1 or (time.perf_counter() - t_m < args.seconds and w.remaining() > 1):
        op_id, plain_first = f"round-{n}", n % 2 == 0
        n += 1
        if plain_first:
            plain_op()
        mark = counters.mark()

        def traced():
            with spans.span("operation", op_id):
                return w.traced_op(spans, op_id)

        r = _op_checked(w, tags, walls, failed, traced)
        eng = r and counters.since(mark, r[1])
        if not plain_first:
            plain_op()
        if not r:
            continue
        tag, wall, extra = r
        layers = layer_breakdown(spark, spans, op_id, w.input_dir(tag), enrichment)
        files = w.files_per_op
        rounds.append({
            "wall": wall,
            "session.gc_s": eng["gc_s"],
            "sources.scan_s": layers["scan_s"],
            "sources.extract_s": layers["extract_s"],
            "sources.scan_passes": eng["binary_files_read"] / files,
            "sources.files": files,
            "sources.bytes": w.input_bytes(tag),
            "functions.parse_s": layers["parse_s"],
            "functions.enrich_s": layers["enrich_s"],
            "functions.records": w.records_per_op,
            "op.body_s": extra["body_s"],
            "op.fixed_s": wall - extra["body_s"],
            "sinks.emit_s": extra["emit_s"],
            "sinks.files_written": extra["files_written"],
            "sinks.bytes_written": extra["bytes_written"],
            **{f"spark.{k}": eng[k] for k in (
                "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "parallelism",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_records", "output_bytes")},
        })
    if not rounds:
        raise RuntimeError("no traced operation completed")
    overhead = (statistics.median([r["wall"] for r in rounds]) - statistics.median(plain)
                if plain else 0.0)
    metrics = {
        "session.start_s": session_start_s,
        "session.jvm_peak_rss_mb": counters.peak_rss_mb(),
        "trace.overhead_s": overhead,
    }
    for key in rounds[0]:
        if key != "wall":
            metrics[key] = statistics.median([r[key] for r in rounds])
    read_side, read_side_errs = read_side_layers(spark, spans, counters, w.views(spark),
                                                 w.landed_tally(), docs_dir)
    metrics.update(read_side)
    spans.dump(
        os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "rounds": rounds,
         "plain_walls": plain, "metrics": metrics},
    )
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    if set(metrics) != set(units):
        raise RuntimeError(f"traced metrics differ from BENCHMARK.json: missing "
                           f"{sorted(set(units) - set(metrics))}, extra "
                           f"{sorted(set(metrics) - set(units))}")
    return {"tags": tags, "walls": walls, "failed": failed, "run_errs": read_side_errs,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("daemon_small_reports", "cli_large_reports"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true",
                    help="tiny inputs and one warm-up operation (a smoke run, not a measurement)")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if not _program_importable():
        print(f"perfbench: the program (parsedmarc_go_spark) is not in {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops the session and waits for the JVM
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
