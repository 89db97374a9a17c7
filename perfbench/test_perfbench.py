"""Self-tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402


# ---- the percentile rule ----------------------------------------------------

def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 0.5) == 50
    assert stats.percentile(values, 0.9) == 90
    assert stats.percentile(list(reversed(values)), 0.9) == 90


def test_samples_beyond_counts_strictly_larger_ranks():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.samples_beyond(21, 0.5) == 10
    assert stats.samples_beyond(20, 0.5) == 10


def test_tail_percentile_needs_ten_beyond():
    assert stats.tail_percentile(100) == 0.9
    assert stats.tail_percentile(99) == 0.5
    assert stats.tail_percentile(1000) == 0.99
    assert stats.tail_percentile(19) is None


def test_checked_percentile_refuses_thin_tails():
    stats.checked_percentile([1.0] * 100, 0.9)
    with pytest.raises(ValueError):
        stats.checked_percentile([1.0] * 99, 0.9)


# ---- digest order-independence ------------------------------------------------

def test_combine_digests_ignores_chunking_and_order():
    parts = [(3, 2**63 + 5), (4, 2**63 + 7), (1, 11)]
    assert stats.combine_digests(parts) == stats.combine_digests(list(reversed(parts)))
    merged = stats.combine_digests([stats.combine_digests(parts[:2]), parts[2]])
    assert merged == stats.combine_digests(parts)


def test_table_digest_ignores_row_order(tmp_path):
    from perfbench.replay import table_digest

    rows = [(b, f"0x{b:04x}", b * 7) for b in range(200)]
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    con = duckdb.connect()
    digests = []
    # same rows, different order and different file split points
    for name, data, per_file in (("a", rows, 64), ("b", shuffled, 50)):
        root = tmp_path / name / "logs"
        (root / "_manifests").mkdir(parents=True)
        (root / "data").mkdir()
        files = []
        for i in range(0, len(data), per_file):
            path = f"data/part-{i}.parquet"
            chunk = data[i:i + per_file]
            con.execute(
                "COPY (SELECT * FROM (VALUES "
                + ", ".join(f"({b}, '{h}', {v})" for b, h, v in chunk)
                + f") t(block_number, hash, v)) TO '{root / path}' (FORMAT parquet)"
            )
            files.append({"path": path, "pt": 0, "rows": len(chunk),
                          "min_prune": None, "max_prune": None})
        manifest = {"version": 1, "schema": {}, "key": [], "prune_col": "block_number",
                    "partition_size": 1, "files": files}
        (root / "_manifests" / "v000000000001.json").write_text(json.dumps(manifest))
        (root / "_VERSION").write_text("1")
        digests.append(table_digest(con, str(tmp_path / name), "logs", 150))
    assert digests[0] == digests[1]
    assert digests[0][0] == 151


# ---- the scheduled tailer never exposes a block before it is due -------------

def test_schedule_exposes_blocks_only_when_due():
    from perfbench.sched import SEQ_PER_BLOCK, ArrivalSchedule

    s = ArrivalSchedule(first_block=100, last_block=199, rate=4.0, t0=1000.0)
    for b in range(100, 200):
        due = s.due(b)
        assert s.cutoff_seq(due - 1e-6) < b * SEQ_PER_BLOCK
        assert s.cutoff_seq(due) >= b * SEQ_PER_BLOCK + SEQ_PER_BLOCK - 1
    # history is always visible; nothing past the last block ever is
    assert s.cutoff_seq(0.0) == 100 * SEQ_PER_BLOCK - 1
    assert s.cutoff_seq(1e12) == 200 * SEQ_PER_BLOCK - 1


def test_scheduled_tailer_clamps_reads_to_the_clock(monkeypatch):
    from ethereum_etl_spark.sources.wal import WalTailer
    from perfbench.sched import SEQ_PER_BLOCK, ArrivalSchedule, ScheduledTailer

    reads = []
    monkeypatch.setattr(WalTailer, "read_range", lambda _self, lo, hi: reads.append((lo, hi)))
    now = [999.0]
    s = ArrivalSchedule(first_block=10, last_block=50, rate=2.0, t0=1000.0)
    t = ScheduledTailer(None, s, clock=lambda: now[0], batch_size=1 << 20)
    t.read_range(0, 50 * SEQ_PER_BLOCK)
    now[0] = 1000.0  # block 10, the first tail block, becomes due
    t.read_range(0, 50 * SEQ_PER_BLOCK)
    now[0] = 1000.6  # and block 11 half a second later
    t.read_range(0, 50 * SEQ_PER_BLOCK)
    assert [hi for _lo, hi in reads] == [
        10 * SEQ_PER_BLOCK - 1, 11 * SEQ_PER_BLOCK - 1, 12 * SEQ_PER_BLOCK - 1,
    ]


# ---- freshness attribution ------------------------------------------------------

def test_freshness_goes_to_the_cycle_covering_the_slot():
    slots = [(10, 100.0), (11, 101.0), (12, 102.0), (13, 103.0)]
    cycles = [
        (10 * 16 - 1, 11 * 16 + 5, 104.0),   # blocks 10, 11
        (11 * 16 + 5, 12 * 16 + 15, 107.5),  # block 12
    ]
    fresh = stats.attribute_freshness(slots, cycles)
    assert fresh == {10: 4.0, 11: 3.0, 12: 5.5}  # 13 is backlog
    # commit order, not list order, decides
    assert stats.attribute_freshness(slots, list(reversed(cycles))) == fresh


def test_lag_is_sampled_against_the_newest_committed_block():
    from perfbench.replay import lag_samples
    from perfbench.sched import ArrivalSchedule

    s = ArrivalSchedule(first_block=10, last_block=99, rate=2.0, t0=100.0)
    commits = [(102.0, 11), (101.0, 9)]  # (commit time, newest block), any order
    assert lag_samples(s, commits, 101.0, 103.0, step=0.5) == [1.5, 2.0, 1.5, 2.0]
    # nothing committed yet: no sample
    assert lag_samples(s, commits, 100.0, 101.0, step=0.5) == []


# ---- event-log attribution by scheduler pool -------------------------------------

def _event_log():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
         "Stage IDs": [0, 1], "Properties": {"spark.scheduler.pool": "merge-logs"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 10_001},
         "Properties": {"spark.scheduler.pool": "merge-logs"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 10_002},
         "Properties": {"spark.scheduler.pool": "merge-blocks"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 10_010},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 8}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,  # pool from its job
         "Task Info": {"Launch Time": 10_020},
         "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 10_030},
         "Task Metrics": {"Executor Run Time": 250}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,  # launched after the window
         "Task Info": {"Launch Time": 99_000},
         "Task Metrics": {"Executor Run Time": 9000}},
    ]
    return [json.dumps(e) for e in ev]


def test_event_log_attributes_task_time_by_pool():
    agg = stats.parse_event_log(_event_log(), t_lo=9.0, t_hi=11.0)
    assert agg["pool_task_s"] == {"merge-logs": 2.0, "merge-blocks": 0.25}
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (1, 2, 3)
    assert agg["task_s"] == pytest.approx(2.25)
    assert agg["gc_s"] == pytest.approx(0.1)
    assert (agg["shuffle_write_bytes"], agg["spill_bytes"]) == (64, 8)
    everything = stats.parse_event_log(_event_log())
    assert everything["pool_task_s"]["merge-blocks"] == pytest.approx(9.25)


# ---- CPU time and the host-speed scale ---------------------------------------------

def test_cpu_s_counts_children_and_leaves_out_named_threads():
    import subprocess
    import threading
    import time

    from perfbench import procfs

    spun, release = threading.Event(), threading.Event()

    def spin(seconds):
        import ctypes

        # the kernel's thread name, as the JVM sets it (PR_SET_NAME)
        ctypes.CDLL(None).prctl(15, b"C1 CompilerThread0", 0, 0, 0)
        end = time.thread_time() + seconds
        while time.thread_time() < end:
            pass
        spun.set()
        release.wait()  # stay alive: an exited thread's CPU stays in its process

    me = os.getpid()
    c0 = procfs.cpu_s(me, exclude_threads=())
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nend = time.process_time() + 0.3\n"
                              "while time.process_time() < end: pass\n"
                              "time.sleep(30)"])
    try:
        # the child's CPU counts while it lives
        deadline = time.time() + 10
        while procfs.cpu_s(me, exclude_threads=()) - c0 < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert procfs.cpu_s(me, exclude_threads=()) - c0 >= 0.25
    finally:
        child.kill()
        child.wait()
    # a thread whose name is excluded is not counted
    busy = threading.Thread(target=spin, args=(0.3,))
    c1, c1_all = procfs.cpu_s(me), procfs.cpu_s(me, exclude_threads=())
    busy.start()
    try:
        assert spun.wait(10)
        assert procfs.cpu_s(me) - c1 < 0.1
        assert procfs.cpu_s(me, exclude_threads=()) - c1_all >= 0.25
    finally:
        release.set()
        busy.join()


def test_host_speed_is_reference_over_median_probe(monkeypatch):
    from perfbench import run

    monkeypatch.setattr(run, "REF_PROBE_CPU_S", 0.01)
    probes = [(float(t), 0.02) for t in range(20)] + [(5.5, 1.0)]  # one outlier
    factor, n = run.host_speed(probes, 0.0, 19.0)
    assert (factor, n) == (pytest.approx(0.5), 21)
    assert run.host_speed(probes, 0.0, 30.0)[0] == pytest.approx(0.5)
    with pytest.raises(RuntimeError):
        run.host_speed(probes, 100.0, 200.0)  # no probes in the interval
