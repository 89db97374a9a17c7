"""Benchmark entry point.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 15 --trace 0

Runs one workload in a child process (``perfbench/child.py``) inside a
fresh run directory under the checkout, samples the peak RSS of the
child's whole process tree from /proc, times the host-speed probe
(``perfbench/probe.py``) every 0.2 s meanwhile and scales the child's CPU
figures to the reference host speed, scans the captured driver log for
whole-stage codegen fallbacks, prints every metric with its unit,
direction and sample count, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of BENCHMARK.json. Exits non-zero, printing no result, when the
run cannot complete (for example when the engine package is missing).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procfs  # noqa: E402
from perfbench.probe import REF_PROBE_CPU_S, probe_cpu_s  # noqa: E402

RUNS = os.path.join(ROOT, ".perfbench_runs")
WORKLOADS = ("tail", "analytics")
CHILD_TIMEOUT_S = 170
CODEGEN_FALLBACK = ("Code grows beyond 64 KB", "Whole-stage codegen disabled")
DRIVER_MEMORY = "3g"
MIN_PROBES = 10  # host-speed probes an interval needs (one per 0.2 s)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group and wait for
    every member to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while procfs.group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def spark_cpus() -> int:
    """Spark's task slots: half the usable cores (at least one), so the
    driver, the Python workers, JVM compilation and GC threads and the
    host's other tenants do not queue behind the tasks."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def run_child(args, run_dir: str) -> tuple[int, int, str, list[tuple[float, float]]]:
    """Returns (exit code, peak RSS in kB, driver log path, host-speed
    probes as (time, thread CPU seconds))."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONHASHSEED": "0",
    })
    env.pop("SPARK_MASTER", None)
    log_path = os.path.join(run_dir, "driver.log")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--result", os.path.join(run_dir, "result.json"),
    ]
    peak = 0
    probes = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        deadline = time.time() + CHILD_TIMEOUT_S
        try:
            while proc.poll() is None and time.time() < deadline:
                peak = max(peak, sum(procfs.rss_kb(p) for p in procfs.tree(proc.pid)))
                probes.append((time.time(), probe_cpu_s()))
                time.sleep(0.2)
        finally:
            code = proc.poll()
            _stop_group(proc)
    return (code if code is not None else -1), peak, log_path, probes


def host_speed(probes: list[tuple[float, float]], t0: float, t1: float) -> tuple[float, int]:
    """(reference probe time / median probe time in ``[t0, t1]``, probe
    count): how much faster than the reference the host ran the probe
    loop. CPU seconds measured in that interval, multiplied by it, read
    as CPU seconds at the reference speed."""
    vals = [c for t, c in probes if t0 <= t <= t1]
    if len(vals) < MIN_PROBES:
        raise RuntimeError(f"only {len(vals)} host-speed probes in the interval")
    return REF_PROBE_CPU_S / statistics.median(vals), len(vals)


def count_codegen_fallbacks(log_path: str) -> int:
    n = 0
    with open(log_path, errors="replace") as f:
        for line in f:
            if any(p in line for p in CODEGEN_FALLBACK):
                n += 1
    return n


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ethereum_etl_spark")):
        print("engine package ethereum_etl_spark not found next to perfbench/", file=sys.stderr)
        return 2
    spec = load_spec()
    # a terminated run still stops its child processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        code, peak_kb, log_path, probes = run_child(args, run_dir)
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(tail))
            print(f"run failed (child exit code {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        fallbacks = count_codegen_fallbacks(log_path)
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
            if os.path.isdir(RUNS) and not os.listdir(RUNS):
                os.rmdir(RUNS)

    # host speed over the window and over set-up, from the probes
    w0, w1 = res["window"]
    speed = {
        "window": host_speed(probes, w0, w1),
        "setup": host_speed(probes, 0.0, res["setup_end"]),
    }
    if args.trace:
        values = dict(res["per_layer"])
        values["trace.cpu_s"] *= speed["window"][0]
        values["spark.codegen_fallbacks"] = fallbacks
        values["process.peak_rss_mb"] = peak_kb / 1024.0
        wanted = spec["per_layer"]
        counts = {}
    else:
        raw = res["end_to_end"]
        values = {
            "cpu_s": raw["cpu_s"] * speed["window"][0],
            "setup_s": raw["setup_s"] * speed["setup"][0],
        }
        wanted = spec["end_to_end"]
        counts = res["samples"]
    metrics = {}
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={res['cpus']} package_sha256={res['package_sha256'][:16]} "
          f"input_fingerprint={res['fingerprint']} pinned={res['fingerprint_pinned']}")
    for m in wanted:
        # a layer the workload does not exercise reports 0
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        n = counts.get(m["name"])
        print(f"  {m['name']:<40} {v:>16.6f} {m['unit']:<8} "
              f"({m['better']} is better{'' if n is None else f', n={n}'})")
    if not args.trace:
        print(f"  cpu_s: CPU seconds of the engine's processes (JIT compiler threads "
              f"left out) per {res['cpu_what']}, at the reference host speed; raw "
              f"{raw['cpu_s']:.4f} s")
        print(f"  setup_s: their CPU seconds before the window, at the reference host "
              f"speed; raw {raw['setup_s']:.2f} s, wall {res['setup_wall_s']:.2f} s")
        for k, (f, n) in speed.items():
            print(f"  host speed over the {k}: x{f:.4f} (reference probe "
                  f"{REF_PROBE_CPU_S * 1000:g} ms / median of {n} probes)")
        lat, n = res["latency"]
        print(f"  wall latency (not bounded): {lat:.6f} s, n={n}, per {res['latency_what']}")
        if res["latency_tail"]:
            p, v = res["latency_tail"]
            print(f"  wall latency p{p * 100:g} = {v:.6f} s "
                  "(highest percentile with 10 samples beyond)")
        print(f"  peak RSS {peak_kb / 1024:.0f} MB")
        print("  setup (wall s): " + ", ".join(f"{k}={v:.2f}" for k, v in res["setup"].items()))
        print(f"  {len(res['unit_s'])} measured {res['unit_what']}: wall "
              + ", ".join(f"{v:.2f}" for v in res["unit_s"]) + "; CPU "
              + ", ".join(f"{v:.2f}" for v in res["unit_cpu_s"]))
        print("  timeline: " + ", ".join(f"{k}@{v:.1f}s" for k, v in res["timeline"].items()))
    if res.get("critical_tables"):
        print(f"  critical table per cycle: {', '.join(res['critical_tables'])}")
    for name in res["failed_checks"]:
        print(f"  FAILED CHECK: {name}")
    print(json.dumps({
        "correct": not res["failed_checks"] and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
