"""One measured run, executed as a child of ``run.py``.

Starts the Spark session, runs one workload, derives the end-to-end and
(when traced) per-layer metrics, and writes them as JSON to ``--result``.
``run.py`` owns the sandbox (environment, run directory), the RSS
sampler and the driver-log scan.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import zipfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procfs, stats  # noqa: E402

PKG = "ethereum_etl_spark"


class Context:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = args.run_dir
        self.tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
        self.setup: dict[str, float] = {}
        self.setup_end: float | None = None
        self.setup_cpu: float | None = None
        self.timeline: dict[str, float] = {}  # phase → seconds since start

    def mark(self, phase: str) -> None:
        self.timeline[phase] = time.time() - T_START

    @staticmethod
    def cpu_now() -> float:
        """CPU seconds used so far by this process and its descendants
        (the driver JVM and the Python workers)."""
        return procfs.cpu_s(os.getpid())

    def setup_done(self) -> None:
        self.setup_end = time.time()
        self.setup_cpu = self.cpu_now()
        self.mark("setup")


def package_hash() -> str:
    """sha256 over the package's Python sources (path + content)."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, PKG)
    for path in sorted(glob.glob(os.path.join(base, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ship_from_run_dir(run_dir: str):
    """A replacement for the session's package shipper that zips the
    checkout's sources into this run's directory, so executors always run
    the code being measured (never a zip cached by another checkout)."""

    def ship(spark) -> None:
        zip_path = os.path.join(run_dir, f"{PKG}.zip")
        if not os.path.exists(zip_path):
            base = os.path.join(ROOT, PKG)
            with zipfile.ZipFile(zip_path, "w") as zf:
                for path in sorted(glob.glob(os.path.join(base, "**", "*.py"), recursive=True)):
                    zf.write(path, os.path.relpath(path, ROOT))
        spark.sparkContext.addPyFile(zip_path)

    return ship


def start_session(ctx: Context):
    import ethereum_etl_spark.session as session

    session._ship_package = ship_from_run_dir(ctx.run_dir)  # noqa: SLF001
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # C1-only JIT: the JVM reaches steady speed within a few passes
        # instead of compiling in the background for minutes, so a
        # run's window does not land on a different point of the
        # warm-up curve from run to run. The compiler threads live as
        # long as the JVM, so procfs.cpu_s can leave their CPU out.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:TieredStopAtLevel=1 "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if ctx.tracer is not None:
        os.makedirs(os.path.join(ctx.run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(ctx.run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain JSON-lines file
        })
    spark = session.get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus, extra_conf=conf
    )
    # WARN keeps the whole-stage codegen fallback notices in the driver log
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pinned_fingerprint(workload: str, seed: int, seconds: int):
    path = os.path.join(ROOT, "perfbench", "fingerprints.json")
    with open(path) as f:
        pins = json.load(f)
    return pins.get(f"{workload}:{seconds}:{seed}")


def _sum(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def replay_layers(ctx: Context, res: dict, ev: dict | None) -> dict[str, float]:
    tr = ctx.tracer
    lo, hi = res["window"]
    n = max(1, res["units"])
    durations = [c[3] - c[2] for c in res["cycles"]] or [0.0]
    lineage = res["lineage"]

    def med(key):
        vals = [e.get("phase_secs", {}).get(key, 0.0) for e in lineage]
        return stats.percentile(vals, 0.5) if vals else 0.0

    crit = [max(e["merge_secs"].items(), key=lambda kv: kv[1]) for e in lineage if e.get("merge_secs")]
    reads = tr.named("sources.read_range", lo, hi)
    windows = {(c[0], c[1]) for c in res["cycles"]}
    prefetched = {
        (s["lo"], s["hi"]) for s in tr.named("sources.read_range")
        if s["thread"].startswith("wal-prefetch")
    }
    merges = tr.named("lake.merge_upsert", lo, hi)
    committed = [s for s in merges if s["committed"]]
    all_written = sum(s["bytes_written"] for s in tr.named("lake.merge_upsert"))
    out = {
        "streaming.cycles": res["units"],
        "streaming.cycle_s.p50": stats.percentile(durations, 0.5),
        "streaming.cycle_s.max": max(durations),
        "streaming.freshness_p50_s": res["latency"],
        "streaming.lag_p50_s": stats.checked_percentile(res["lag"], 0.5),
        "streaming.lag_p90_s": stats.checked_percentile(res["lag"], 0.9),
        "streaming.plan_s": med("plan"),
        "streaming.stats_s": med("stats"),
        "streaming.merge_phase_s": med("merges"),
        "streaming.reorg_fix_s": med("reorg_fix"),
        "streaming.critical_table_s": stats.percentile([c[1] for c in crit], 0.5) if crit else 0.0,
        "streaming.prefetch_hit_ratio": len(windows & prefetched) / n,
        "sources.head_s": _sum(tr.named("sources.head", lo, hi)) / n,
        "sources.read_range_calls": len(reads),
        "sources.events_in": sum(e.get("n_events", 0) for e in lineage),
        "sources.backlog_blocks": res["backlog_blocks"][-1],
        "sources.backlog_growth_blocks": res["backlog_blocks"][-1] - res["backlog_blocks"][0],
        "lake.merges": len(merges),
        "lake.append_ratio": (
            sum(1 for s in committed if s["removed_files"] == 0) / len(committed)
            if committed else 0.0
        ),
        "lake.bytes_written": sum(s["bytes_written"] for s in merges),
        "lake.write_amp": all_written / res["live_bytes"] if res["live_bytes"] else 0.0,
        "lake.files_live": res["live_files"],
        "lake.bytes_per_event": res["live_bytes"] / res["events"] if res["events"] else 0.0,
        "lake.reads": len(tr.named("lake.read", lo, hi)),
        "lake.read_s": _sum(tr.named("lake.read", lo, hi)),
        "lake.watermark_s": (
            _sum(tr.named("lake.watermark_set", lo, hi))
            + _sum(tr.named("lake.watermark_set_intent", lo, hi))
        ) / n,
    }
    from perfbench.replay import TABLES

    for t in TABLES:
        out[f"lake.merge_s.{t}"] = _sum([s for s in merges if s["table"] == t]) / n
        out[f"operators.task_s.{t}"] = (ev or {}).get("pool_task_s", {}).get(f"merge-{t}", 0.0) / n
    # every per-table merge span must sit inside its cycle, and the spread
    # of one cycle's merge spans cannot exceed that cycle's merge phase
    violations = 0
    for i, c, e in zip(res["cycle_ids"], res["cycles"], lineage):
        spans = [s for s in merges if s["parent"] == f"cycle-{i}"]
        if not spans:
            continue
        inside = all(c[2] <= s["start"] and s["end"] <= c[3] for s in spans)
        extent = max(s["end"] for s in spans) - min(s["start"] for s in spans)
        if not inside or extent > e.get("phase_secs", {}).get("merges", 0.0) + 0.01:
            violations += 1
    out["trace.merge_span_violations"] = violations
    res["critical_tables"] = [c[0] for c in crit]
    return out


def spark_layers(ev: dict | None, res: dict, cpus: int) -> dict[str, float]:
    if ev is None:
        return {}
    lo, hi = res["window"]
    n = max(1, res["units"])
    return {
        "spark.jobs_per_cycle": ev["jobs"] / n,
        "spark.stages_per_cycle": ev["stages"] / n,
        "spark.tasks_per_cycle": ev["tasks"] / n,
        "spark.task_s": ev["task_s"],
        "spark.busy_ratio": ev["task_s"] / (cpus * max(hi - lo, 1e-9)),
        "spark.gc_s": ev["gc_s"],
        "spark.shuffle_write_bytes": ev["shuffle_write_bytes"],
        "spark.spill_bytes": ev["spill_bytes"],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    ctx = Context(args)

    spark = start_session(ctx)
    ctx.setup["session.start_s"] = time.time() - T_START
    if args.workload == "tail":
        from perfbench import replay as wl
    else:
        from perfbench import analytics as wl
    res = wl.run(spark, ctx)
    ctx.mark("checks")
    setup_wall_s = ctx.setup_end - T_START

    spark.stop()
    ctx.mark("stop")
    ev = None
    if ctx.tracer is not None:
        logs = glob.glob(os.path.join(args.run_dir, "eventlog", "*"))
        with open(logs[0]) as f:
            ev = stats.parse_event_log(f, *res["window"])

    lat = res["latency_samples"]
    e2e = {
        "cpu_s": res["cpu"],
        "setup_s": ctx.setup_cpu,
    }
    tail_p = stats.tail_percentile(len(lat))
    pin = pinned_fingerprint(args.workload, args.seed, args.seconds)
    failed_checks = list(res["failed_checks"])
    if pin is not None and list(pin) != [res["fingerprint"][0], str(res["fingerprint"][1])]:
        failed_checks.append("input_fingerprint")
    out = {
        "end_to_end": e2e,
        "samples": {"cpu_s": len(res["cpu_samples"]), "setup_s": 1},
        "cpu_what": res["cpu_what"],
        "setup_wall_s": setup_wall_s,
        "latency": [res["latency"], len(lat)],
        "latency_what": res["latency_what"],
        "latency_tail": None if tail_p is None else [tail_p, stats.percentile(lat, tail_p)],
        "attempted": res["attempted"],
        "failed": res["failed_ops"] + len(failed_checks),
        "failed_checks": failed_checks,
        "fingerprint": [res["fingerprint"][0], str(res["fingerprint"][1])],
        "fingerprint_pinned": pin is not None,
        "package_sha256": package_hash(),
        "setup": ctx.setup,
        "timeline": ctx.timeline,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "unit_s": res["unit_s"],
        "unit_what": res["unit_what"],
        "unit_cpu_s": res["unit_cpu_s"],
        "window": res["window"],
        "setup_end": ctx.setup_end,
    }
    if ctx.tracer is not None:
        layers = dict(ctx.setup)
        if args.workload == "tail":
            layers.update(replay_layers(ctx, res, ev))
            out["critical_tables"] = res["critical_tables"]
        else:
            layers.update(res["per_layer"])
        layers.update(spark_layers(ev, res, out["cpus"]))
        layers["trace.cpu_s"] = e2e["cpu_s"]
        layers["trace.latency_s"] = res["latency"]
        layers["trace.bookkeeping_s"] = ctx.tracer.bookkeeping_s
        ctx.tracer.dump(os.path.join(args.run_dir, "spans.jsonl"))
        out["per_layer"] = layers
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
