"""The repo benchmark: one closed-loop client runs a workload's operations
back to back on ``local[<cores>]`` and reports end-to-end metrics (or, with
``--trace 1``, per-layer metrics), after checking every output against a
DuckDB oracle.

Usage (from the repo root):

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 40 --trace 0

Workloads: ``script_node`` and ``corpus_pipeline``. The run prints one ``name value unit`` line per metric, then as its last
stdout line one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. All scratch files (Spark local dirs, event
logs, node outputs) live under ``.perfbench_cache/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.time()  # process start, as seen by the benchmark: before any import

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"


def _env(work: Path, trace: bool) -> dict[str, str]:
    """Environment for the Spark driver: local[<cores>], every scratch
    directory inside the checkout, the package importable by Python
    workers, and (traced runs only) the Spark event log switched on."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    return env


def setup_session(rec) -> tuple[object, dict[str, float]]:
    """Package import, ``session.get_spark`` and one trivial read, timed
    from the start of this process."""
    t = time.time()
    import ddataframeoperation_spark  # noqa: F401
    from ddataframeoperation_spark import compat  # noqa: F401
    from ddataframeoperation_spark.queries import QUERIES  # noqa: F401
    from ddataframeoperation_spark.session import get_spark

    t_import = time.time()
    with rec.span("session.get_spark"):
        spark = get_spark("perfbench")
    t_spark = time.time()
    with rec.span("session.first_action"):
        spark.read.text(str(Path(__file__).resolve())).count()
    t_done = time.time()
    return spark, {
        "session.import_s": t_import - t,
        "session.get_spark_s": t_spark - t_import,
        "session.first_action_s": t_done - t_spark,
        "setup_s": t_done - T0,
    }


def _vm_hwm_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def _stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(spark, rec, order, index: int) -> tuple[list[dict], float]:
    """One pass: every operation once, back to back (a closed loop with one
    client). An operation that raises is recorded as failed. Returns the
    records and the pass's wall time."""
    records = []
    t_pass = time.perf_counter()
    with rec.span(f"pass:{index}"):
        for op in order:
            t = time.perf_counter()
            try:
                with rec.span(f"op:{op.name}"):
                    result = op.run(spark, rec)
                error = None
            except Exception as e:  # an operation failure is a result, not a crash
                result, error = None, f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            records.append({"op": op, "pass": index, "s": time.perf_counter() - t,
                            "result": result, "error": error})
    return records, time.perf_counter() - t_pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", choices=("script_node", "corpus_pipeline"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload is None:
        ap.error("--workload is required")

    trace = bool(args.trace)
    work = CACHE / "work" / str(os.getpid())
    os.environ.update(_env(work, trace))
    sys.path.insert(0, str(ROOT))
    try:
        return _run(args, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, trace: bool, work: Path) -> int:
    from perfbench.trace import NullRecorder, Recorder

    rec = Recorder() if trace else NullRecorder()
    spark, session = setup_session(rec)

    from perfbench import fixtures, workloads
    from perfbench.stats import TAIL_BEYOND, tail

    input_dir = fixtures.ensure(args.seed, workloads.INPUT_SET[args.workload], CACHE / "fixtures")
    checker = workloads.load_checker()
    out_root = work / "node-out"
    wl = workloads.build_workload(args.workload, args.seed, input_dir, out_root, checker)
    # Every seed runs the operations in their listed order: a seeded order
    # moved the session's first-execution costs onto a different operation
    # per seed, which alone spread op_p50_s by ~25%.
    order = wl.ops

    # One untimed, untraced warm-up pass. A first pass pays the session's
    # one-off JIT, class-loading and Python-worker start-up costs, which
    # make its operations 1.3-4x a warm one: timed, they sat around the
    # median or the tail percentile and moved them from run to run. Its
    # outputs are still checked.
    warmup, _ = run_pass(spark, NullRecorder(), order, -1)

    restore = None
    if trace:
        from perfbench.trace import COMPAT_SPANS, instrument, instrumented_layers

        restore = instrument(rec, instrumented_layers(), COMPAT_SPANS)

    cores = len(os.sched_getaffinity(0))
    # At least enough passes that op_tail_s has a percentile above the median.
    passes_n = max(round(args.seconds / workloads.SECONDS_PER_PASS[args.workload]),
                   2 * TAIL_BEYOND // len(order) + 1)
    records, passes = [], []
    for i in range(passes_n):
        more, seconds = run_pass(spark, rec, order, i)
        records += more
        passes.append(seconds)

    if restore is not None:
        restore()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
    t_stop = time.perf_counter()
    _stop_spark(spark)
    t_check = time.perf_counter()

    failures = []
    for r in warmup + records:
        error = r["error"] or r["op"].check(r["result"], wl.duck)
        r["error"] = error
        if error:
            failures.append(f"{r['op'].name}: {error}")
    t_checked = time.perf_counter()
    status_failed = wl.reports.count(3)

    times = [r["s"] for r in records]
    pass_s = statistics.median(passes)
    tail_s, tail_pct = tail(times)
    e2e = {
        "setup_s": (session["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "op_tail_s": (tail_s, "s"),
        "input_rows_per_s": (wl.input_rows / pass_s, "rows/s"),
    }
    checked = len(warmup) + len(records)
    failed_frac = len(failures) / checked

    print(f"workload {args.workload} seed {args.seed}: a warm-up pass, then {len(passes)} timed "
          f"passes of {len(order)} operations, closed loop, local[{cores}]")
    print(f"session stopped in {t_check - t_stop:.1f} s; {checked} outputs checked "
          f"against DuckDB in {t_checked - t_check:.1f} s")
    for f in failures:
        print(f"FAILED {f}")
    for k, (v, unit) in e2e.items():
        print(f"{k} {v:.6g} {unit}")
    print(f"op_tail_s is the p{tail_pct:.1f} of {len(times)} operations, "
          f"{TAIL_BEYOND} of them beyond it")
    print(f"failed_ops_frac {failed_frac:.6g} ratio ({len(failures)} of {checked})")
    print(f"peak_rss_mb {peak_rss_mb:.6g} MB (VmHWM of this process plus the Spark JVM)")
    print("per operation, warm-up pass | timed passes:")
    for op in order:
        first = next(r["s"] for r in warmup if r["op"] is op)
        timed = ", ".join(f"{r['s']:.3f}" for r in records if r["op"] is op)
        print(f"  {op.name}: {first:.3f} | {timed} s")

    results = CACHE / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{int(trace)}.json").write_text(
        json.dumps({"pass_s": pass_s})
    )

    if trace:
        session["session.peak_rss_mb"] = peak_rss_mb
        metrics = _traced_metrics(args, rec, work, passes, cores, session, status_failed, pass_s)
        units = {k: _unit(k) for k in metrics}
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {units[k]}")
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": not failures,
        "attempted": checked,
        "failed": len(failures),
        "metrics": out_metrics,
    }))
    return 0


def _unit(metric: str) -> str:
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes") or metric.endswith("bytes_written"):
        return "bytes"
    if metric.endswith("_frac"):
        return "ratio"
    return "count"


def event_log_lines(root: Path) -> list[str]:
    """Every line the session's event log holds. Spark 4 writes it rolled:
    a directory of ``events_<n>_<app>`` files, read in ``n`` order."""
    def order(path: Path):
        parts = path.name.split("_")
        return (str(path.parent), int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0)

    files = sorted((p for p in root.rglob("*") if p.is_file() and not p.name.startswith(".")
                    and not p.name.startswith("appstatus")), key=order)
    return [line for path in files for line in path.read_text().splitlines()]


def _traced_metrics(args, rec, work, passes, cores, session, status_failed, pass_s):
    from perfbench.layers import layer_metrics, per_op_split
    from perfbench.trace import parse_event_log

    log = parse_event_log(event_log_lines(work / "eventlog"))
    metrics = layer_metrics(rec.spans, log, len(passes), cores, session, status_failed, pass_s)

    untraced = CACHE / "results" / f"{args.workload}-seed{args.seed}-trace0.json"
    if untraced.is_file():
        base = json.loads(untraced.read_text())["pass_s"]
        print(f"tracing overhead: traced pass_s {pass_s:.3f} - untraced pass_s {base:.3f} "
              f"(same seed) = {pass_s - base:+.3f} s")
    else:
        print("tracing overhead: no untraced run of this workload and seed to compare with")
    print("per operation (mean over passes): build_s action_s build_jobs action_jobs")
    for name, row in per_op_split(rec.spans, log).items():
        sites = f"  build jobs at: {'; '.join(row['build_sites'])}" if row["build_sites"] else ""
        print(f"  {name}: {row['build_s']:.3f} {row['action_s']:.3f} "
              f"{row['build_jobs']:.0f} {row['action_jobs']:.0f}{sites}")
    build_jobs, written = metrics["queries.build_jobs"], metrics["compat.bytes_written"]
    checks = [
        ("queries.build_jobs > 0", build_jobs > 0)
        if args.workload == "corpus_pipeline"
        else ("queries.build_jobs == 0", build_jobs == 0),
        ("compat.bytes_written > 0", written > 0)
        if args.workload == "script_node"
        else ("compat.bytes_written == 0", written == 0),
    ]
    for label, ok in checks:
        print(f"design check {label}: {'ok' if ok else 'FAILED'}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
