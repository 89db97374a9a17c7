"""Pure helpers shared by the workloads: percentiles, freshness
attribution, order-independent digests and event-log attribution.

Nothing here starts Spark, so the self-tests exercise it directly.
"""

from __future__ import annotations

import json
import math
from collections import defaultdict

# a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(1, math.ceil(p * len(s)))
    return s[k - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly beyond the nearest-rank
    ``p`` percentile."""
    return n - max(1, math.ceil(p * n))


def tail_percentile(n: int, candidates=(0.999, 0.99, 0.9, 0.5)) -> float | None:
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    for p in candidates:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def checked_percentile(values: list[float], p: float) -> float:
    """``percentile`` that refuses a percentile the sample count cannot
    support (fewer than MIN_BEYOND samples beyond it)."""
    if samples_beyond(len(values), p) < MIN_BEYOND:
        raise ValueError(
            f"p{p * 100:g} needs {MIN_BEYOND} samples beyond it; "
            f"have {len(values)} samples"
        )
    return percentile(values, p)


def attribute_freshness(
    slots: list[tuple[int, float]],
    cycles: list[tuple[int, int, float]],
    seq_per_block: int = 16,
) -> dict[int, float]:
    """Freshness of each block slot: the commit time of the cycle whose
    ``(lo, hi]`` seq range covers the block, minus the time the block
    became due. ``slots`` is ``[(block, due_t)]``; ``cycles`` is
    ``[(lo, hi, commit_t)]`` in commit order. Blocks that no cycle covers
    are left out (they are backlog)."""
    out: dict[int, float] = {}
    ordered = sorted(cycles, key=lambda c: c[2])
    for block, due in slots:
        first_seq = block * seq_per_block
        for lo, hi, commit_t in ordered:
            if lo < first_seq <= hi:
                out[block] = commit_t - due
                break
    return out


def combine_digests(parts: list[tuple[int, int]]) -> tuple[int, int]:
    """Fold per-chunk ``(rows, hash_sum)`` digests into one. Row hashes
    are summed modulo 2**64, so the result ignores row order and
    chunking."""
    rows = sum(p[0] for p in parts)
    hsum = sum(int(p[1]) for p in parts) % (1 << 64)
    return rows, hsum


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def parse_event_log(lines, t_lo: float | None = None, t_hi: float | None = None) -> dict:
    """Aggregate a Spark JSON event log.

    Tasks are attributed to the scheduler pool of their stage (the
    ``spark.scheduler.pool`` property the streamer sets per table merge,
    e.g. ``merge-blocks``). Only jobs submitted and tasks launched inside
    ``[t_lo, t_hi]`` (epoch seconds) are counted when the bounds are
    given."""
    stage_pool: dict[int, str] = {}
    job_pool: dict[int, str] = {}
    jobs = stages = tasks = 0
    task_s = gc_s = 0.0
    shuffle_write = spill = 0
    pool_task_s: dict[str, float] = defaultdict(float)

    def inside(ms) -> bool:
        t = ms / 1000.0
        return (t_lo is None or t >= t_lo) and (t_hi is None or t <= t_hi)

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            pool = (ev.get("Properties") or {}).get("spark.scheduler.pool", "default")
            job_pool[ev["Job ID"]] = pool
            for sid in ev.get("Stage IDs", []):
                stage_pool.setdefault(sid, pool)
            if inside(ev.get("Submission Time", 0)):
                jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info", {})
            pool = (ev.get("Properties") or {}).get("spark.scheduler.pool")
            if pool is not None:
                stage_pool[info.get("Stage ID")] = pool
            if inside(info.get("Submission Time", 0)):
                stages += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if not inside(info.get("Launch Time", 0)):
                continue
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            tasks += 1
            task_s += run_s
            gc_s += m.get("JVM GC Time", 0) / 1000.0
            shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            pool_task_s[stage_pool.get(ev.get("Stage ID"), "default")] += run_s
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "task_s": task_s,
        "gc_s": gc_s,
        "shuffle_write_bytes": shuffle_write,
        "spill_bytes": spill,
        "pool_task_s": dict(pool_task_s),
    }
