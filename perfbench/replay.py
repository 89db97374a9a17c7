"""`tail` workload: open-loop chain-head tailing through ChainStreamer.

Setup writes a reorg-free WAL from the seed (``walgen``) and seeds the
tail warehouse with history in one cycle (the session's first Spark work,
so it also pays the engine's first-use compilation). Then the tail blocks
become due on a wall-clock schedule, one every 1/RATE s, and the loop
drives ``sync_cycle``, sleeping while caught up. The first PREROLL_CYCLES
cycles bring the loop to its steady state (a cycle takes the range its
predecessor prefetched); the window starts when the last of them commits
and lasts ``--seconds``; the loop ends with the cycle in flight at the
window's end.

The end-to-end figure is each window cycle's CPU seconds (median over the
cycles). The wall-clock view is the freshness of the blocks the window's
cycles commit: a block's commit time minus the time it became due (the
reference's ``etl_delay`` view), median over those blocks.

Output checks (untimed, after the window):
- base tables (blocks, transactions, receipts, logs): the natural-key set
  and row count equal the canonical WAL rows, computed by DuckDB straight
  from the WAL parquet;
- every table: the order-independent content digest equals that of a
  one-batch reference replay of the same committed WAL prefix.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import duckdb

from perfbench import stats, walgen
from perfbench.sched import SEQ_PER_BLOCK, ArrivalSchedule, ScheduledTailer

# the four base tables; the derived ERC-20 token_transfers table is left
# out (see README.md)
ENTITIES = ("block", "transaction", "receipt", "log")
HISTORY_BLOCKS = 64
RATE = 2.0  # blocks per second: ~6 blocks per cycle, so the per-cycle fixed cost dominates
PREROLL_CYCLES = 2
PREROLL_S = 30  # schedule length reserved for the pre-roll cycles
SAMPLE_S = 0.05
MAX_BATCH_BLOCKS = 256  # the tailer never limits a cycle at this rate
TXS_PER_BLOCK = 4
LOGS_PER_TX = 2

# base table → (WAL entity, natural key → JSON payload path)
BASE_KEYS = {
    "blocks": ("block", {"number": "$.number"}),
    "transactions": ("transaction", {"block_number": "$.block_number", "hash": "$.hash"}),
    "receipts": ("receipt", {"block_number": "$.block_number",
                             "transaction_hash": "$.transaction_hash"}),
    "logs": ("log", {"block_number": "$.block_number",
                     "transaction_hash": "$.transaction_hash",
                     "log_index": "$.log_index"}),
}
TABLES = ["blocks", "transactions", "receipts", "logs"]


def generate_wal(path: str, seed: int, seconds: int) -> int:
    """Write the reorg-free WAL for ``seed`` under the directory ``path``;
    returns its block count."""
    n_blocks = HISTORY_BLOCKS + math.ceil(RATE * (PREROLL_S + seconds + 30))
    os.makedirs(path, exist_ok=True)
    walgen.generate(
        os.path.join(path, "wal.parquet"), seed, n_blocks, TXS_PER_BLOCK, LOGS_PER_TX
    )
    return n_blocks


def wal_fingerprint(path: str) -> tuple[int, int]:
    """Event count plus an order-independent digest of
    ``(seq, entity_type, op, payload)``."""
    con = duckdb.connect()
    n, h = con.execute(
        "SELECT count(*), coalesce(sum(hash(seq, entity_type, op, payload)), 0) "
        f"FROM read_parquet('{path}/*.parquet')"
    ).fetchone()
    con.close()
    return stats.combine_digests([(n, h)])


def count_reorg_rows(path: str) -> int:
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{path}/*.parquet') WHERE op <> 'upsert'"
    ).fetchone()[0]
    con.close()
    return n


def _table_files(warehouse: str, table: str) -> list[str]:
    from ethereum_etl_spark.lake.table import LakeTable

    t = LakeTable(None, os.path.join(warehouse, table))
    return [os.path.join(t.root, f.path) for f in t.manifest().files]


def _table_view(con, warehouse: str, table: str) -> str | None:
    files = _table_files(warehouse, table)
    if not files:
        return None
    listed = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{listed}], union_by_name=true)"


def table_digest(con, warehouse: str, table: str, last_block: int) -> tuple[int, int]:
    """Order-independent ``(rows, hash_sum)`` of a lake table's live rows
    up to ``last_block``, read from its manifest's files (not through the
    engine)."""
    src = _table_view(con, warehouse, table)
    if src is None:
        return 0, 0
    cols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    quoted = ", ".join(f'"{c}"' for c in cols)
    block = "number" if table == "blocks" else "block_number"
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({quoted})), 0) FROM {src} "
        f"WHERE {block} <= {last_block}"
    ).fetchone()
    return stats.combine_digests([(n, h)])


def check_base_tables(wal_path: str, warehouse: str, hi_seq: int) -> list[str]:
    """Base tables whose natural-key set or row count differs from the
    canonical WAL rows up to ``hi_seq`` (per block, the hash with the
    latest seq wins)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW wal AS SELECT * FROM read_parquet('{wal_path}/*.parquet') "
        f"WHERE seq <= {hi_seq}"
    )
    con.execute(
        "CREATE VIEW canon AS SELECT w.* FROM wal w JOIN ("
        "  SELECT block_number, arg_max(block_hash, seq) AS h FROM wal GROUP BY 1"
        ") c ON w.block_number = c.block_number AND w.block_hash = c.h"
    )
    failed = []
    for table, (entity, keys) in BASE_KEYS.items():
        src = _table_view(con, warehouse, table)
        extracted = ", ".join(
            f"json_extract_string(payload, '{p}') AS {k}" for k, p in keys.items()
        )
        want = f"SELECT DISTINCT {extracted} FROM canon WHERE entity_type = '{entity}'"
        n_want = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
        if src is None:
            if n_want:
                failed.append(table)
            continue
        got = "SELECT " + ", ".join(f"{k}::VARCHAR AS {k}" for k in keys) + f" FROM {src}"
        n_rows = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        diff = con.execute(
            f"SELECT count(*) FROM (({want}) EXCEPT ({got})) "
            f"UNION ALL SELECT count(*) FROM (({got}) EXCEPT ({want}))"
        ).fetchall()
        if n_rows != n_want or any(d[0] for d in diff):
            failed.append(table)
    con.close()
    return failed


def _config(warehouse: str, batch_blocks: int):
    from ethereum_etl_spark.streaming import StreamerConfig

    return StreamerConfig(
        warehouse=warehouse,
        batch_size=batch_blocks * SEQ_PER_BLOCK,
        entity_types=ENTITIES,
    )


def replay_reference(spark, wal, ref_warehouse: str, hi_seq: int) -> None:
    """Replay the WAL up to ``hi_seq`` in one batch: the reference the
    tailed tables are compared with."""
    from pyspark.sql import functions as F

    from ethereum_etl_spark.sources.wal import WalTailer
    from ethereum_etl_spark.streaming import ChainStreamer

    everything = 1 << 40
    ref = ChainStreamer(spark, _config(ref_warehouse, everything // SEQ_PER_BLOCK))
    ref.run(WalTailer(wal.filter(F.col("seq") <= hi_seq), batch_size=everything))


def check_batch_invariance(warehouse: str, ref_warehouse: str, hi_seq: int) -> list[str]:
    """Tables whose content digest over the blocks up to ``hi_seq``'s
    differs from the one-batch reference replay. Rows of a reorg-free WAL
    depend only on their own block, so the reference's prefix is the
    one-batch replay of that prefix."""
    last_block = hi_seq // SEQ_PER_BLOCK
    con = duckdb.connect()
    failed = [
        t for t in TABLES
        if table_digest(con, warehouse, t, last_block)
        != table_digest(con, ref_warehouse, t, last_block)
    ]
    con.close()
    return failed


def lake_totals(warehouse: str) -> tuple[int, int]:
    """(live data bytes, live data files) over every table's manifest."""
    nbytes = nfiles = 0
    for table in TABLES:
        for f in _table_files(warehouse, table):
            nbytes += os.path.getsize(f)
            nfiles += 1
    return nbytes, nfiles


def lag_samples(sched: ArrivalSchedule, commits: list[tuple[float, int]],
                t_lo: float, t_hi: float, step: float = SAMPLE_S) -> list[float]:
    """The tables' lag behind the chain head at every ``step`` in
    ``[t_lo, t_hi)``: sample time minus the due time of the newest block
    committed by then. ``commits`` is ``[(commit_t, newest_block)]``."""
    out = []
    ordered = sorted(commits)
    k = 0
    newest = None
    for i in range(math.floor((t_hi - t_lo) / step)):
        t = t_lo + i * step
        while k < len(ordered) and ordered[k][0] <= t:
            newest = ordered[k][1] if newest is None else max(newest, ordered[k][1])
            k += 1
        if newest is not None:
            out.append(t - sched.due(newest))
    return out


def run(spark, ctx) -> dict:
    from pyspark.sql import functions as F

    from ethereum_etl_spark.sources.wal import WalTailer
    from ethereum_etl_spark.streaming import ChainStreamer

    wal_path = os.path.join(ctx.run_dir, "wal")
    warehouse = os.path.join(ctx.run_dir, "wh")
    ref_warehouse = os.path.join(ctx.run_dir, "wh_ref")
    t0 = time.time()
    n_blocks = generate_wal(wal_path, ctx.seed, ctx.seconds)
    fp = wal_fingerprint(wal_path)
    reorg_rows = count_reorg_rows(wal_path)
    ctx.setup["setup.input_s"] = time.time() - t0
    wal = spark.read.parquet(wal_path)

    if ctx.tracer is not None:  # traces the tail warehouse only
        from perfbench.trace import install_engine_wrappers

        install_engine_wrappers(ctx.tracer, ScheduledTailer)

    t0 = time.time()
    streamer = ChainStreamer(spark, _config(warehouse, MAX_BATCH_BLOCKS))
    hist_hi = HISTORY_BLOCKS * SEQ_PER_BLOCK
    streamer.run(WalTailer(wal.filter(F.col("seq") < hist_hi), batch_size=hist_hi))
    ctx.setup["setup.history_s"] = time.time() - t0

    # ---- open loop: pre-roll cycles, then the measured window ----
    t0 = time.time()
    sched = ArrivalSchedule(HISTORY_BLOCKS, n_blocks - 1, RATE, t0)
    tailer = ScheduledTailer(wal, sched, batch_size=MAX_BATCH_BLOCKS * SEQ_PER_BLOCK)
    wm = streamer.watermarks.get()
    cycles: list[tuple[int, int, float, float]] = []  # (lo, hi, start, commit)
    cycle_cpu: list[float] = []  # CPU seconds of each committed cycle
    failed_ops = 0
    w0 = w1 = None
    while w1 is None or time.time() < w1:
        if w1 is None and time.time() - t0 > PREROLL_S:
            failed_ops += 1  # the pre-roll cycles did not finish in time
            break
        if ctx.tracer is not None:
            ctx.tracer.parent = f"cycle-{len(cycles)}"
        start, cpu0 = time.time(), ctx.cpu_now()
        try:
            nxt = streamer.sync_cycle(tailer, wm)
        except Exception:  # noqa: BLE001 — a failed cycle ends the run
            failed_ops += 1
            break
        now = time.time()
        if nxt is None:
            nb = sched.last_due_block(now) + 1
            time.sleep(min(0.5, max(0.01, sched.due(nb) - now)))
            continue
        cycles.append((wm, nxt, start, now))
        cycle_cpu.append(ctx.cpu_now() - cpu0)
        wm = nxt
        if w0 is None and len(cycles) == PREROLL_CYCLES:
            w0, w1 = now, now + ctx.seconds
            ctx.setup["setup.warmup_s"] = now - t0
            ctx.setup_done()
    streamer._drop_prefetch()  # noqa: SLF001 — stop the prefetch thread's pending read
    ctx.mark("window")
    if ctx.tracer is not None:
        ctx.tracer.parent = None
    if w0 is None:
        raise RuntimeError("the pre-roll cycles never committed; nothing was measured")
    win = [c for c in cycles if c[3] > w0]  # cycles committed in the window
    win_cpu = cycle_cpu[len(cycles) - len(win):]
    if not win:
        raise RuntimeError("no cycle committed in the window; nothing was measured")

    # freshness of every block the window's cycles committed
    committed = [
        (b, sched.due(b)) for lo, hi, _s, _c in win
        for b in range(lo // SEQ_PER_BLOCK + 1, hi // SEQ_PER_BLOCK + 1)
    ]
    fresh = list(stats.attribute_freshness(committed, [(lo, hi, c) for lo, hi, _s, c in win]).values())
    # the tables' lag behind the head, sampled through the window
    lag = lag_samples(sched, [(c, hi // SEQ_PER_BLOCK) for _lo, hi, _s, c in cycles], w0, w1)
    # blocks due but not yet committed, at each window cycle's commit: a
    # backlog that grows from the first to the last flags an unsustainable rate
    backlog = [max(0, sched.last_due_block(c) - hi // SEQ_PER_BLOCK) for _lo, hi, _s, c in win]

    # the one-batch reference replay of the committed prefix (untimed)
    replay_reference(spark, wal, ref_warehouse, wm)
    ctx.mark("reference")
    failed_checks = []
    if reorg_rows:
        failed_checks.append("wal_reorg_free")
    failed_checks += check_base_tables(wal_path, warehouse, wm)
    failed_checks += check_batch_invariance(warehouse, ref_warehouse, wm)

    live_bytes, live_files = lake_totals(warehouse)
    entries = streamer.lineage.entries()
    by_id = {e["batch_id"]: e for e in entries}
    return {
        "fingerprint": fp,
        # per-layer metrics cover the window's cycles, whole
        "window": (min(c[2] for c in win), max(c[3] for c in win)),
        "cpu": statistics.median(win_cpu),
        "cpu_samples": win_cpu,
        "cpu_what": "tail cycle (median over the window's cycles)",
        "latency": stats.percentile(fresh, 0.5),
        "latency_samples": fresh,
        "latency_what": "block freshness: commit time minus due time (median over the "
                        "blocks committed in the window)",
        "lag": lag,
        "attempted": len(cycles) + failed_ops + 1 + len(BASE_KEYS) + len(TABLES),
        "failed_checks": failed_checks,
        "failed_ops": failed_ops,
        "units": len(win),
        "unit_s": [c[3] - c[2] for c in win],
        "unit_cpu_s": win_cpu,
        "unit_what": "cycles (s)",
        "cycles": win,
        "cycle_ids": [cycles.index(c) for c in win],
        "lineage": [by_id.get(f"{lo}-{hi}", {}) for lo, hi, _s, _c in win],
        "backlog_blocks": backlog,
        "live_bytes": live_bytes,
        "live_files": live_files,
        "events": sum(e.get("n_events", 0) for e in entries),
    }
