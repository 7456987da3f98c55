"""Benchmark of the Caliper pipelines and the analytics registry.

Run from the repository root:

    python3 perfbench/run.py --workload items_grouped --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 4   # every workload, untraced and traced
    python3 perfbench/run.py --selftest

One run generates its inputs from ``--seed`` (before Spark starts),
sets up a local Spark session sized to the host, runs untimed warm-up
passes, then times passes for ``--seconds``, and at least the
workload's minimum. The correctness gate runs outside the timed
region, on the first warm-up pass. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` turns on Spark's event log, job
groups per span and a streaming listener, and prints the per-layer
metrics. The last stdout
line is the result object; the line before it is the host record.
Inputs, outputs, checkpoints and the event log live under one
directory per run, removed at exit; the result, and for traced runs
the span file and the gzipped event log, are kept under
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

# Gated: the two figures every workload has. The others are kept in
# the record line for the workloads they describe: rows_per_s (items,
# stream; generated rows / wall_s), batch_ms_p50 and batch_ms_p90
# (stream; the p90 with its sample count), peak_rss_mb (its high-water
# mark spreads by 40% across seeds with the JVM's heap growth) and
# failed_frac.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}


def _layer_units() -> dict[str, str]:
    from workloads import MIX

    units = {
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "sources.read_csv_s": "s",
        "sources.scan_s": "s",
        "sources.rows_in": "count",
        "sources.rows_dropped": "count",
        "sources.kept_ratio": "ratio",
        "pipelines.build_s": "s",
        "sinks.write_s": "s",
        "sinks.files_out": "count",
        "sinks.bytes_out_mb": "MB",
        "sinks.records_out": "count",
        "streaming.batches": "count",
        "streaming.rows_per_batch": "count",
        "streaming.latest_offset_ms": "ms",
        "streaming.get_batch_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.add_batch_ms": "ms",
        "streaming.wal_commit_ms": "ms",
        "streaming.commit_offsets_ms": "ms",
    }
    for q in MIX:
        units |= {
            f"queries.{q}.build_s": "s",
            f"queries.{q}.build_jobs": "count",
            f"queries.{q}.plan_s": "s",
            f"queries.{q}.exec_s": "s",
            f"queries.{q}.shuffle_mb": "MB",
        }
    for name, unit in (
        ("plan_s", "s"),
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("executor_run_s", "s"),
        ("executor_cpu_s", "s"),
        ("gc_s", "s"),
        ("task_wait_s", "s"),
        ("shuffle_write_mb", "MB"),
        ("shuffle_read_mb", "MB"),
        ("spill_mb", "MB"),
        ("map_stage_s", "s"),
        ("reduce_stage_s", "s"),
        ("stage_share", "ratio"),
    ):
        units[f"spark.{name}"] = unit
    units["trace.wall_s"] = "s"
    return units


def host_sizing() -> tuple[int, str, float]:
    """(cpus, driver memory, RAM GiB): every core, a quarter of RAM up to 4g."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    ram_gib = kb / 2**20
    return cpus, f"{max(1, min(4, int(ram_gib // 4)))}g", ram_gib


def anchors(root: str) -> dict:
    """Spark-free host anchors from the repository's bench helpers."""
    try:
        import bench
    except ImportError as exc:
        return {"unavailable": str(exc)}
    old = tempfile.tempdir
    tempfile.tempdir = root  # the helpers' scratch files stay in the run directory
    try:
        gflops, _ = bench._host_calibration()
        fresh, steady = bench._file_create_ceiling(n_files=500)
    finally:
        tempfile.tempdir = old
    return {"matmul_gflops": gflops, "file_create_per_s": [fresh, steady]}


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat: user .. steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time taken by other guests (steal) in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this Python process's maximum RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    sys.path.insert(0, CHECKOUT)
    import caliper_poc_data_etl_spark  # noqa: F401 - fail fast without the package

    work = os.path.join(HERE, "work")
    os.makedirs(work, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{name}-", dir=work)
    try:
        return _run(name, seed, seconds, trace, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _run(name: str, seed: int, seconds: float, trace: bool, root: str) -> tuple[dict, dict]:
    from spans import EventLog, Tracer, keep_gzipped
    from workloads import WORKLOADS, Tally, make_listener, session_conf, stop_spark

    phases = {}
    mark = time.perf_counter()
    wl = WORKLOADS[name](root, seed)
    phases["inputs_s"] = time.perf_counter() - mark
    conf = session_conf(root) | getattr(wl, "spark_conf", {})
    cpus, driver_memory, ram_gib = host_sizing()
    host = {
        "nproc": os.cpu_count(),
        "cpus_passed": cpus,
        "driver_memory_passed": driver_memory,
        "ram_gib": round(ram_gib, 1),
        "python": platform.python_version(),
        "anchors": anchors(os.path.join(root, "tmp")),
    }
    ev_dir = os.path.join(root, "eventlog")
    if trace:
        os.makedirs(ev_dir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{ev_dir}",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    from caliper_poc_data_etl_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}", cpus=cpus, driver_memory=driver_memory, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    host |= {"spark": spark.version, "java": spark._jvm.java.lang.System.getProperty("java.version")}
    tr = Tracer(spark, trace)
    if trace and name == "attempts_stream":
        wl.listener = make_listener(spark)

    tally = Tally()
    walls: list[float] = []
    lats: list = []  # per pass: what run_pass returned
    layers: dict[str, float] = {}
    try:
        wl.warm_up(spark, tr, root, tally)
        phases["warmup_and_gate_s"] = time.perf_counter() - t2
        start, cpu0 = time.perf_counter(), cpu_times()
        while len(walls) < wl.min_passes or time.perf_counter() - start < seconds:
            out = os.path.join(root, "out", f"p{len(walls)}")
            try:
                with tr.span("pass", pass_no=len(walls)):
                    p0 = time.perf_counter()
                    lat = wl.run_pass(spark, tr, out)
                    wall = time.perf_counter() - p0
            except Exception as exc:  # noqa: BLE001 - a failed pass is a failed operation
                tally.op([f"pass {len(walls)}: {type(exc).__name__}: {str(exc)[:300]}"])
                break
            walls.append(wall)
            lats.append(lat)
            if wl.ops_per_pass == 1:
                tally.op(wl.check_same(out))
                shutil.rmtree(out)
            else:
                for _ in range(wl.ops_per_pass):
                    tally.op()
        phases["timed_s"] = time.perf_counter() - start
        host["cpu_steal_share_timed"] = steal_share(cpu0, cpu_times())
        wl.after(spark, tr, root, tally)
        if trace:
            layers = wl.layers(spark, tr, len(walls))
        rss = peak_rss_mb(spark)
        phases["after_timed_s"] = time.perf_counter() - start - phases["timed_s"]
    finally:
        stop_spark(spark)

    kept = {}
    if trace:
        results = _results_dir(name, seed, trace)
        ev_path = os.path.join(ev_dir, os.listdir(ev_dir)[0])
        ev = EventLog(ev_path)
        span_pass = {s["id"]: s["pass"] for s in tr.spans}
        group_pass = {g: span_pass[s] for g, s in tr.group_to_span.items() if span_pass.get(s) is not None}
        spark_layer = ev.spark_layer(group_pass, dict(enumerate(walls)))
        # A 0 shuffle on the stream must mean jobs were charged and wrote
        # nothing, not that the charging failed.
        tally.op([] if spark_layer.get("spark.tasks") else ["no Spark task charged to a timed pass"])
        layers |= spark_layer | wl.event_layers(ev, tr, len(walls))
        kept = {
            "event_log": os.path.join(results, "eventlog.json.gz"),
            "spans": os.path.join(results, "spans.jsonl"),
        }
        keep_gzipped(ev_path, kept["event_log"])
        tr.write(kept["spans"])

    wall = wl.wall_s(walls, lats) if walls else float("nan")
    not_measured = []
    if trace:
        units = _layer_units()
        layers |= {"session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1, "trace.wall_s": wall}
        # The result must carry every per-layer metric as a number; the
        # ones this workload has no such layer for read 0 and are named
        # in the record line.
        not_measured = sorted(k for k in units if k not in layers)
        values = {k: 0.0 for k in units} | layers
    else:
        units = END_TO_END
        values = {"setup_s": t2 - t0, "wall_s": wall}
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    record = {
        "workload": name,
        "seed": seed,
        "trace": int(trace),
        "passes": len(walls),
        "pass_wall_s": walls,
        "pass_op_ms": lats,
        "peak_rss_mb": rss,
        "failed_frac": tally.failed / max(1, tally.attempted),
        "errors": tally.errors[:20],
        "not_measured": not_measured,
        "host": host,
        "kept": kept,
        "phases_s": phases,
    }
    if name != "analytics_mix":
        record["rows_per_s"] = wl.rows_in / wall
    if name == "attempts_stream" and walls:
        batches = [x for lat in lats for x in lat]
        record |= {
            "batch_ms_p50": statistics.median(batches),
            "batch_ms_p90": p90(batches),
            "batch_samples": len(batches),
            "batch_samples_above_p90": sum(1 for x in batches if x > p90(batches)),
        }
    with open(os.path.join(_results_dir(name, seed, trace), "result.json"), "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    return record, result


def p90(xs: list[float]) -> float:
    """90th percentile, interpolated within the observed samples."""
    if not xs:
        return float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) >= 2 else xs[0]


def _results_dir(name: str, seed: int, trace: bool) -> str:
    path = os.path.join(HERE, "results", f"{name}-seed{seed}-trace{int(trace)}")
    os.makedirs(path, exist_ok=True)
    return path


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in its own process;
    prints the metrics table and the tracing overhead per workload."""
    from workloads import WORKLOADS

    summary = {}
    for name in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=CHECKOUT)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                return proc.returncode
            lines = proc.stdout.strip().splitlines()
            res[trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
        (rec0, r0), (rec1, r1) = res[0], res[1]
        wall0 = r0["metrics"]["wall_s"]["value"]
        wall1 = r1["metrics"]["trace.wall_s"]["value"]
        print(f"== {name}  failed_frac={rec0['failed_frac']:.4f} ({r0['failed']}/{r0['attempted']})"
              f"  traced failed_frac={rec1['failed_frac']:.4f}")
        for k, v in r0["metrics"].items():
            print(f"  {k:<44} {v['value']:>14.4f} {v['unit']}")
        for k, unit in (("rows_per_s", "rows/s"), ("batch_ms_p50", "ms"), ("peak_rss_mb", "MB")):
            if k in rec0:
                print(f"  {k:<44} {rec0[k]:>14.4f} {unit}  (not gated)")
        if "batch_ms_p90" in rec0:
            print(f"  {'batch_ms_p90':<44} {rec0['batch_ms_p90']:>14.4f} ms  "
                  f"(n={rec0['batch_samples']}, {rec0['batch_samples_above_p90']} above; not gated)")
        for k, v in r1["metrics"].items():
            if k not in rec1["not_measured"]:
                print(f"  {k:<44} {v['value']:>14.4f} {v['unit']}")
        print(f"  not measured on this workload (reported as 0): {', '.join(rec1['not_measured'])}")
        print(f"  tracing overhead: wall_s {wall0:.4f} s untraced, {wall1:.4f} s traced "
              f"({(wall1 - wall0) / wall0:+.1%})")
        print(f"  event log: {rec1['kept'].get('event_log')}\n  spans: {rec1['kept'].get('spans')}")
        summary[name] = {
            "failed_frac": rec0["failed_frac"],
            "wall_s": wall0,
            "traced_wall_s": wall1,
            "tracing_overhead_s": wall1 - wall0,
        }
    print(json.dumps(summary))
    return 0


def _terminate(*_) -> None:
    """On SIGTERM, unwind through the cleanup handlers (stop Spark, remove
    the run directory) once; a repeated signal must not cut them short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if args.selftest:
        import selftest

        return selftest.main(CHECKOUT)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    record, result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    for err in record["errors"]:
        print(f"FAILED: {err}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
