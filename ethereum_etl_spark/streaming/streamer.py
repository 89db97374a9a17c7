"""ChainStreamer — the flagship CDC loop (EP1 of SURVEY.md §3).

Re-expresses /root/reference/blockchainetl/streaming/streamer.py:77-157 +
ethereumetl/streaming/eth_streamer_adapter.py:184-300 as a Spark micro-batch
driver:

  while watermark < head:
      target = min(head - lag, watermark + batch)          (streamer.py:151-157)
      batch  = WAL rows in (watermark, target]             (block-range tail)
      per entity: decode → enrich → stamp ids → MERGE      (export_batch DAG)
      reorg rows in batch → delete+upsert on block keys    (ch_adapter:839-890)
      lineage.record(...); watermark = target              (streamer.py:128-132)

Exactly-once: the MERGE carries batch_id "{lo}-{hi}"; a crash after commit
but before the watermark write replays the batch, which the LakeTable
recognizes and skips.

One batch is the demand-driven DAG of eth_streamer_adapter.py:184-260.
``_derive`` dispatches to one builder per family, each returning merge
specs (table → frame or deferred ``df_fn``):

- ``_base_specs``: blocks, enriched transactions, receipts, logs, token
  transfers;
- ``_trace_specs``: geth traces, and one tree flatten shared by traces,
  internal transfers and contracts;
- ``_balance_specs``: token/native balance history and their latest heads;
- ``DexBatch.specs`` (streaming/batch.py): pools, price marks, trades and
  liquidity events;
- ``_candle_specs``: OHLCV per resolution, recomputed from the committed
  transfers.

A decoded parent that two derivations read is cached per batch
(``_decode_batch``). Frames built lazily inside the merge threads — the DEX
subgraph and the candle bucket discovery — go through one thread-safe,
timed per-batch memo (``BatchMemo``), whose build seconds reach lineage as
``dex_step_secs``. The merges run on one thread pool in the topological
order of ``DEPS``.

The same loop drives the north_rule repo-file CDC (entity='repo_file'),
proving the engine is entity-agnostic: an entity is (schema, natural key,
prune column) — nothing else.
"""

from __future__ import annotations

import functools
import logging
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethereum_etl_spark.functions.ids import stamp
from ethereum_etl_spark.lake import LakeTable, WatermarkStore
from ethereum_etl_spark.lake.checkpoint import LineageLog
from ethereum_etl_spark.operators.enrich import enrich_transactions, enrich_with_blocks
from ethereum_etl_spark.operators.transfers import extract_token_transfers
from ethereum_etl_spark.schemas import (
    ENTITY_KEYS,
    ENTITY_SCHEMAS,
    TOKEN_TRANSFER_SCHEMA,
)
from ethereum_etl_spark.sources.decode import EntityDecoder, drop_null_keys
from ethereum_etl_spark.sources.wal import WalTailer
from ethereum_etl_spark.streaming.batch import BatchMemo, DexBatch, release_checkpoints

_log = logging.getLogger(__name__)

DEFAULT_ENTITIES = (
    "block", "transaction", "receipt", "log", "token_transfer",
    "geth_trace", "trace", "internal_transfer", "contract",
    "token", "token_balance", "native_balance", "candle",
)

# table → the RAW WAL entity its rows derive from: a batch with zero rows
# of the source entity derives zero rows for the table, so its merge can be
# skipped from the per-entity batch stats alone (no isEmpty job per table)
_SOURCE_ENTITY = {
    "blocks": "block", "transactions": "transaction", "receipts": "receipt",
    "logs": "log", "geth_traces": "geth_trace", "traces": "geth_trace",
    "internal_transfers": "geth_trace", "contracts": "geth_trace",
    "token_transfers": "log", "tokens": "token",
    "token_balances": "log", "token_balances_latest": "log",
    "native_balances": "transaction", "native_balances_latest": "transaction",
    "dex_pools": "log", "price_marks": "log", "price_marks_latest": "log",
    "dex_trades": "log", "liquidity_events": "log",
    "logs_by_address": "log", "transactions_by_address": "transaction",
    "candles_1m": "log", "candles_5m": "log", "candles_1h": "log",
    "candles_1d": "log",
}

# balance families repaired after a reorg: history table → its natural key
# (minus block_number, which the repair recomputes)
_BALANCE_KEY_COLS = {
    "token_balances": ["token_address", "holder_address", "token_id"],
    "native_balances": ["address"],
}

# entities whose natural key is unique WITHIN a reorg-free micro-batch by
# construction (decode of a seq-unique WAL; key embeds the block) — their
# append-path merges may skip the in-batch dedup window
_UNIQUE_BATCH_KEY_ENTITIES = frozenset({
    "blocks", "transactions", "receipts", "logs", "geth_traces",
    "token_balances", "native_balances", "dex_trades", "liquidity_events",
    "candles_1m", "candles_5m", "candles_1h", "candles_1d",
    "price_marks",
})

CANDLE_SCHEMA_DDL = (
    "token_address string, bucket_epoch long, bucket_start timestamp,"
    "open decimal(38,0), high decimal(38,0), low decimal(38,0),"
    "close decimal(38,0), volume decimal(38,0), trades long"
)

# resolution tag → (Spark window duration, seconds) — schema.sql's four MVs
# (schema.sql:38-60,147-169,228-250,309-331), each its own candles_{b}
# table. Every width is a multiple of the finest, so one bucket discovery
# serves all four (_candle_specs).
CANDLE_BUCKETS = {
    "1m": ("1 minute", 60),
    "5m": ("5 minutes", 300),
    "1h": ("1 hour", 3600),
    "1d": ("1 day", 86_400),
}

# merge order: table → the tables whose commit it waits for (tables absent
# from a batch are skipped). Per-entity MERGEs are otherwise independent
# (separate tables) and run concurrently; the Spark scheduler interleaves
# their stages (the reference's thread-pool job parallelism,
# batch_work_executor.py, done the Spark way). Derived full_touch tables
# don't wait for ALL of phase 1 — only for their specific upstream commit
# (candles need the committed transfers table; latest-balance projections
# need the cached balance plan materialized by their history merge, which
# also guards the carry-file GC race).
DEPS: dict[str, list[str]] = {
    **{f"candles_{b}": ["token_transfers"] for b in CANDLE_BUCKETS},
    # head tables (latest-state projections) merge AFTER every consumer of
    # their PRE-batch state: the balance heads feed the v3 reserve as-of
    # and the mark head feeds trade pricing — both inside the shared
    # DexBatch raw/priced trades build — so those heads wait for
    # price_marks/dex_trades. On crash replay the recompute then reads the
    # same pre-batch head the first attempt saw, and the already-committed
    # downstream merges no-op on batch_id.
    "token_balances_latest": [
        "token_balances", "price_marks", "dex_trades", "liquidity_events",
    ],
    "native_balances_latest": ["native_balances"],
    "price_marks": ["dex_pools", "tokens"],
    "dex_trades": ["dex_pools", "tokens"],
    "price_marks_latest": ["price_marks", "dex_trades", "liquidity_events"],
    "liquidity_events": ["dex_pools", "tokens"],
}


def _merge_order(names) -> list[str]:
    """``names`` in topological DEPS order: every upstream present in
    ``names`` comes before its dependents (token_balances_latest's dep on
    dex_trades points at a table derived later, so derivation order alone
    would not do)."""
    order: list[str] = []
    seen: set[str] = set()

    def visit(n):
        if n in seen:
            return
        seen.add(n)
        for dep in DEPS.get(n, []):
            if dep in names:
                visit(dep)
        order.append(n)

    for n in names:
        visit(n)
    return order


# raw WAL entity → the configured entities whose derivation decodes it (the
# ``get(...)`` calls of the builders): ChainStreamer builds one decoder per
# raw entity that any configured entity needs
_DECODED_FOR = {
    "block": {"block", "log", "token_transfer"},
    "transaction": {"transaction", "native_balance"},
    "receipt": {"transaction", "receipt"},
    "log": {"log", "token_transfer", "dex_pool", "dex_trade"},
    "geth_trace": {"geth_trace", "trace", "contract", "internal_transfer"},
    "token": {"token"},
}


def _batch_stats_aggs() -> list:
    """The batch-stats aggregates, grouped by entity_type: block span, row
    count, reorg row count, the distinct log topic0 set and the block rows'
    (block_number, seq, timestamp).

    The topic0 set rides the same scan via a JSON-prefix probe on the raw
    payload (no full log decode): it gates the entire dex subgraph
    (DexBatch), and extracting it here removes the last executor job from
    the plan phase — the first full log decode then happens inside the
    merge threads, overlapped with the independent entity merges. The block
    rows give etl_delay its block timestamps (_block_timestamps) without a
    lookup job of its own."""
    block_row = (F.col("entity_type") == "block") & F.col("op").isin("upsert", "reorg")
    return [
        F.min("block_number").alias("lo"),
        F.max("block_number").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("op") == "reorg", 1).otherwise(0)).alias("nr"),
        F.collect_set(
            F.when(
                F.col("entity_type") == "log",
                F.lower(F.get_json_object("payload", "$.topics[0]")),
            )
        ).alias("t0s"),
        F.collect_list(
            F.when(
                block_row,
                F.struct(
                    "block_number",
                    "seq",
                    # the field and type the block decode reads
                    F.from_json("payload", "timestamp long")["timestamp"].alias("ts"),
                ),
            )
        ).alias("bts"),
    ]


def _present_t0s(srows) -> set[str]:
    """The batch's distinct log topic0 set, from the stats pass."""
    return {t for r in srows for t in r["t0s"] if t}


def _block_timestamps(srows) -> dict[int, int | None]:
    """Block number → timestamp of its latest-seq block row in the batch:
    the reorg winner, the same row the block decode keeps."""
    latest: dict[int, tuple[int, int | None]] = {}
    for r in srows:
        for b in r["bts"]:
            bn = int(b["block_number"])
            if bn not in latest or b["seq"] > latest[bn][0]:
                latest[bn] = (b["seq"], b["ts"])
    return {bn: ts for bn, (_seq, ts) in latest.items()}


def _etl_delay(srows) -> dict[str, dict]:
    """etl_delay (A5, reference etl_delay MVs schema.sql:769-799): one
    metrics row per entity per batch — indexed_at − block timestamp of the
    entity's highest merged block, the indexation-delay stream a monitoring
    UI reads. The timestamps come from the stats pass; a batch without
    block rows has none."""
    hi_by_entity = {r["entity_type"]: int(r["hi"]) for r in srows}
    if "block" not in hi_by_entity:
        return {}
    ts_by_block = _block_timestamps(srows)
    indexed_at = time.time()
    out: dict[str, dict] = {}
    for e, hi in hi_by_entity.items():
        ts = ts_by_block.get(hi)
        out[e] = {
            "block_number": hi,
            "timestamp": ts,
            "indexed_at": round(indexed_at, 3),
            "delay_s": round(indexed_at - ts, 3) if ts is not None else None,
        }
    return out


def _cluster_batch(batch: DataFrame) -> DataFrame:
    """Cluster the raw batch by entity_type WITHIN each scan partition (no
    shuffle) before caching. The cached columnar batches then hold one
    entity each, so the per-batch min/max stats let every decode's
    ``entity_type == e`` filter SKIP foreign batches (in-memory partition
    pruning) instead of re-reading the whole mixed cache — ~8 full-cache
    scans per cycle (one per decoded entity), each dragging every other
    entity's payload bytes across the memory bus. Measured on the whole-WAL
    replay: ~93 GB of cache/input reads per 7.9M-event batch, and the
    resulting bus contention was the dominant 2→8-core scaling loss (run
    core-seconds inflated +57% at 8 cores, cores 90% busy)."""
    out = batch.sortWithinPartitions("entity_type", "block_number")
    out._ees_clustered = True
    return out


def _stage_batch(spark, batch: DataFrame, path: str) -> DataFrame | None:
    """Spill a LARGE batch to entity-partitioned compressed parquet and read
    it back, instead of caching the mixed frame in-heap.

    Why: the in-heap columnar cache stores the ~uncompressed payload bytes,
    and although the per-entity decode filters are pushed into the
    InMemoryTableScan, batch-stat pruning only skips decode work — each of
    the ~7 per-entity decode scans still walks the WHOLE cached block
    (measured: 6× full-cache traversals of a 4.7 GB cache per 7.9M-event
    batch = the dominant memory-bus traffic, and bus contention was the
    2→8-core scaling loss). Staging costs ONE extra write of the batch
    (compressed, ~2× smaller than the heap form) after which every decode
    reads ONLY its entity's files via partition pruning — total decode
    traffic drops from ~7× heap-size to ~1× compressed-size. On a real
    cluster this is the per-executor spill shape; in the streamer the write
    rides the prefetch thread, off the merge critical path.

    Returns None when the batch turned out empty (caller falls back to the
    empty-cache path)."""
    (
        batch.sortWithinPartitions("entity_type", "block_number")
        .write.partitionBy("entity_type")
        .mode("overwrite")
        .parquet(path)
    )
    if not any(d.startswith("entity_type=") for d in os.listdir(path)):
        shutil.rmtree(path, ignore_errors=True)  # empty range — no spill
        return None
    staged = spark.read.parquet(path)
    staged._ees_clustered = True
    staged._ees_staged = path
    return staged


@dataclass
class StreamerConfig:
    warehouse: str
    batch_size: int = 100  # WAL seq units per cycle
    entity_types: tuple[str, ...] = DEFAULT_ENTITIES
    partition_size: int = 100_000  # block numbers per lake partition
    strict_counts: bool = False
    collect_errors: bool = False  # dead-letter malformed payloads → errors table
    # §1.4 query-pattern projections (logs_address / transactions_address
    # MVs, schema.sql:1099-1533): same rows re-keyed for point lookups by
    # address. Off by default — they double the write volume of their base
    # entity, exactly like the reference's MV fan-out.
    projections: bool = False
    # K7 multi-sink fanout (multi_item_exporter.py analog): per entity
    # table, extra (format, dir) sinks that receive every batch's rows as
    # files alongside the lake MERGE — e.g. {"blocks": [("json", "/out")]}
    # writes /out/batch=<id>/ per micro-batch (overwrite per batch dir, so
    # replays are idempotent).
    fanout: dict = field(default_factory=dict)
    # lossless uint256 channel: keep the raw payload string in `value_raw`
    # whenever Decimal(38,0) decode of `value` overflows to NULL (SURVEY §7;
    # the reference's BigQuery schema stores value as STRING for the same
    # reason). Off by default — healthy chains never populate it.
    uint256_sidecar: bool = False
    # additive schema evolution: entity → extra StructFields appearing in
    # late payloads (SURVEY §1.3; LakeTable widens the table on first sight)
    extra_entity_fields: dict = field(default_factory=dict)
    # J7 in the loop (enrich_dex_trades_job.py:38-108): when set, dex_trades
    # are persisted ENRICHED — prices_stable/amount_stable from an
    # accumulating price_marks table (as-of, replay-deterministic) and
    # owner/owner_type from the per-tx transfer-flow graph. Empty = raw
    # assembly shape (the r2 behavior).
    stablecoins: tuple[str, ...] = ()
    # batches spanning at least this many blocks are SPILLED to
    # entity-partitioned parquet instead of cached in-heap (see
    # _stage_batch). Micro-batch tail mode stays on the cache path;
    # catch-up/backfill ranges take the staging path.
    stage_min_blocks: int = 4096
    # factory address → amm label for v2/v3-shaped FORK factories
    # (sushiswap, quickswap, solidly …) — the deploys/metadata.json role
    # in the reference's pool bootstrap; passed through to discover_pools
    # so fork pools are labeled at DISCOVERY time and trade attribution
    # inherits the namespace from the pool dimension.
    factory_amm: dict = field(default_factory=dict)


def _enriched_tx_schema():
    from pyspark.sql.types import StructField, StructType

    base = ENTITY_SCHEMAS["transaction"]
    rec = ENTITY_SCHEMAS["receipt"]
    ren = {
        "cumulative_gas_used": "receipt_cumulative_gas_used",
        "gas_used": "receipt_gas_used",
        "contract_address": "receipt_contract_address",
        "root": "receipt_root",
        "status": "receipt_status",
        "effective_gas_price": "receipt_effective_gas_price",
        "logs_count": "receipt_logs_count",
    }
    extra = [StructField(ren[f.name], f.dataType, True) for f in rec.fields if f.name in ren]
    return StructType(list(base.fields) + extra)


def _spec(df, **opts) -> dict:
    """A merge spec: the frame (None when ``df_fn`` builds it in the merge
    thread) plus merge_upsert options."""
    return {"df": df, **opts}


# the spec options of a latest-state head: last-write-wins by block over a
# single partition, rewritten whole
_HEAD = {"version_col": "block_number", "full_touch": True}


@dataclass
class _Frames:
    """The frames one family's builder hands the next, for one batch."""

    get: object  # the decode memo (_decode_batch)
    aux_cache: list  # caches the builders made, unpersisted after the batch
    reorg_free: bool
    token_transfers: DataFrame | None = None  # enriched (carries block_timestamp)
    enriched_tx: DataFrame | None = None
    trace_frames: DataFrame | None = None  # flattened, without internal cols
    token_balances: DataFrame | None = None  # this batch's balance rows


@dataclass
class _Batch:
    """One batch as its merges see it: id, stats-pass span and counts, and
    the reorged blocks whose keys the merges delete."""

    batch_id: str
    raw_counts: dict[str, int]  # raw entity → rows in the batch
    lo_bn: int
    hi_bn: int
    has_reorg: bool
    reorg_blocks: list[int]


class ChainStreamer:
    def __init__(self, spark: SparkSession, cfg: StreamerConfig):
        self.spark = spark
        self.cfg = cfg
        self.watermarks = WatermarkStore(f"{cfg.warehouse}/_checkpoints/watermarks.json")
        self.lineage = LineageLog(f"{cfg.warehouse}/_checkpoints/lineage.jsonl")
        self.tables: dict[str, LakeTable] = {}
        # cross-cycle dimension snapshot cache: (table, cols) → (version, df)
        self._dim_cache: dict[tuple, tuple[int, DataFrame]] = {}
        # next-batch prefetch: a single-thread pool reads + stats the
        # PREDICTED next WAL range while the current batch's merges run,
        # taking the read+stats latency off the next cycle's critical path
        self._prefetch = None
        self._prefetch_pool = None
        # per-entity decoders and the stats aggregates, built once: every
        # cycle applies the same expressions to a new batch. Eager, not on
        # first use — the prefetch thread decodes too.
        want = set(cfg.entity_types)
        self._decoders = {
            e: EntityDecoder(
                e,
                ops=("upsert", "reorg"),
                extra_fields=cfg.extra_entity_fields.get(e),
                uint256_sidecar=cfg.uint256_sidecar,
            )
            for e, users in _DECODED_FOR.items()
            if users & want
        }
        self._stats_aggs = _batch_stats_aggs()
        # generated classes compiled so far (cache misses only) — the
        # per-cycle delta goes to lineage as codegen_compiles
        self._compiles = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        # its nextJobId() is the count of jobs submitted so far in this
        # JVM — the per-cycle delta goes to lineage as spark_jobs
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        # scratch spills are always rebuilt from the WAL — drop leftovers
        # from a crashed run before they accumulate
        shutil.rmtree(f"{cfg.warehouse}/_staging", ignore_errors=True)
        self._init_tables()

    def _prepare_batch(self, batch: DataFrame, lo: int, hi: int) -> DataFrame:
        """Cache a small batch in-heap; SPILL a large one to
        entity-partitioned parquet (_stage_batch) so the per-entity decodes
        read only their own files instead of re-traversing the mixed cache.
        lo/hi are WAL seq units (16 per block)."""
        if (hi - lo) // 16 >= self.cfg.stage_min_blocks:
            path = f"{self.cfg.warehouse}/_staging/{lo}-{hi}"
            staged = _stage_batch(self.spark, batch, path)
            if staged is not None:
                return staged
        return _cluster_batch(batch).cache()

    @staticmethod
    def _discard_batch(df: DataFrame) -> None:
        path = getattr(df, "_ees_staged", None)
        if path is not None:
            shutil.rmtree(path, ignore_errors=True)
        else:
            df.unpersist()

    def _prefetch_next(self, tailer: WalTailer, after_target: int) -> None:
        if self._prefetch_pool is None:
            self._prefetch_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="wal-prefetch"
            )

        def task():
            nt = tailer.compute_target(after_target)
            if nt is None:
                return None
            df = self._prepare_batch(
                tailer.read_range(after_target, nt), after_target, nt
            )
            srows = self._batch_stats(df)
            pre = {"lo": after_target, "hi": nt, "df": df, "srows": srows}
            # pre-build the parsed-log checkpoint for the predicted batch on
            # this thread, overlapping the CURRENT batch's merges: the parse
            # is the root of the dex critical chain (parsed → dims → trades
            # → pricing → owner), and building it in-loop serialized ~6 s
            # per batch behind the merge phase (r6 event-log profile)
            try:
                pre["memo"] = self._prebuild_parsed(df, srows)
            except Exception:  # noqa: BLE001 — fall back to the in-loop build
                pre["memo"] = None
            return pre

        self._prefetch = self._prefetch_pool.submit(task)

    def _prebuild_parsed(self, batch: DataFrame, srows) -> BatchMemo | None:
        """A batch memo holding the parsed (and, when trades are
        maintained, marked) frames the cycle's DexBatch would build for
        this batch, eagerly checkpointed — or None when the batch needs no
        parse (no dex entities wanted / no dex topics present) or when it
        carries reorg rows (the in-loop decode then runs over the
        winner-filtered batch, which this pre-build cannot reproduce)."""
        want = set(self.cfg.entity_types)
        if not want & {"dex_pool", "dex_trade"} or any(int(r["nr"]) > 0 for r in srows):
            return None
        get, _cached = self._decode_batch(batch)  # one request: caches nothing
        dex = DexBatch(self, BatchMemo(), _present_t0s(srows), get)
        if not (dex.factory_hit or dex.families):
            return None
        dex.parsed()
        if dex.families and "dex_trade" in want:
            dex.marked()
        return dex.memo

    def _take_prefetch(self, watermark: int):
        """Consume a matching prefetch; release a stale one."""
        pf, self._prefetch = self._prefetch, None
        if pf is None:
            return None
        pre = pf.result()
        if pre is None:
            return None
        if pre["lo"] != watermark:
            self._release_prefetch(pre)
            return None
        return pre

    def _release_prefetch(self, pre: dict) -> None:
        """Free everything an unused prefetch pins: the batch (cache or
        spill) and the eager parsed/marked checkpoints."""
        self._discard_batch(pre["df"])
        if pre["memo"] is not None:
            pre["memo"].release()

    def _batch_stats(self, batch: DataFrame):
        """One pass over the raw batch (see _batch_stats_aggs)."""
        return batch.groupBy("entity_type").agg(*self._stats_aggs).collect()

    def _dim_snapshot(self, name: str, cols: list[str]) -> DataFrame:
        """Committed dimension read, cached ACROSS cycles until the table
        version changes (VERDICT r2: re-reading ~3M pools every few seconds
        at the tail). Materialized eagerly (count) so a later merge's
        snapshot GC can never invalidate the cached lineage; combined with
        the empty-batch merge skip, quiet dims keep one version for many
        cycles and this read costs nothing.

        Keyed (table, cols) so two call sites requesting different column
        sets each get their own snapshot instead of silently sharing the
        first caller's projection (ADVICE r3)."""
        t = self.tables[name]
        v = t.current_version()
        ck = (name, tuple(cols))
        ent = self._dim_cache.get(ck)
        if ent is not None and ent[0] == v:
            return ent[1]
        if ent is not None:
            ent[1].unpersist()
        df = t.read().select(*cols).cache()
        df.count()
        self._dim_cache[ck] = (v, df)
        return df

    # ---------- tables ----------

    def _init_tables(self):
        from pyspark.sql.types import StringType, StructField, StructType

        def tbl(name, schema, key, prune="block_number", psize=None, stamped=True):
            root = f"{self.cfg.warehouse}/{name}"
            extra = (
                [
                    StructField("item_id", StringType(), True),
                    StructField("item_timestamp", StringType(), True),
                ]
                if stamped
                else []
            )
            full = StructType(list(schema.fields) + extra)
            t = (
                LakeTable(self.spark, root)
                if LakeTable.exists(root)
                else LakeTable.create(
                    self.spark, root, full, key=key,
                    prune_col=prune,
                    partition_size=psize or self.cfg.partition_size,
                )
            )
            self.tables[name] = t

        want = set(self.cfg.entity_types)
        if "block" in want:
            tbl("blocks", ENTITY_SCHEMAS["block"], ENTITY_KEYS["block"], prune="number")
        if "transaction" in want:
            tbl("transactions", _enriched_tx_schema(), ENTITY_KEYS["transaction"])
        if "receipt" in want:
            tbl("receipts", ENTITY_SCHEMAS["receipt"], ENTITY_KEYS["receipt"])
        if "log" in want:
            tbl("logs", ENTITY_SCHEMAS["log"], ENTITY_KEYS["log"])
        if "token_transfer" in want:
            tbl("token_transfers", TOKEN_TRANSFER_SCHEMA, ENTITY_KEYS["token_transfer"])
        if "geth_trace" in want:
            tbl("geth_traces", ENTITY_SCHEMAS["geth_trace"], ENTITY_KEYS["geth_trace"])
        if "trace" in want:
            tbl("traces", ENTITY_SCHEMAS["trace"], ENTITY_KEYS["trace"])
        if "internal_transfer" in want:
            tbl("internal_transfers", ENTITY_SCHEMAS["internal_transfer"],
                ENTITY_KEYS["internal_transfer"])
        if "contract" in want:
            tbl("contracts", ENTITY_SCHEMAS["contract"], ENTITY_KEYS["contract"])
        if "token" in want:
            tbl("tokens", ENTITY_SCHEMAS["token"], ENTITY_KEYS["token"])
        if "token_balance" in want:
            tbl("token_balances", ENTITY_SCHEMAS["token_balance"], ENTITY_KEYS["token_balance"])
            # compact latest-state projection: single partition, LWW by block
            tbl("token_balances_latest", ENTITY_SCHEMAS["token_balance"],
                ["token_address", "holder_address", "token_id"],
                psize=10**15, stamped=False)
        if "native_balance" in want:
            tbl("native_balances", ENTITY_SCHEMAS["native_balance"], ENTITY_KEYS["native_balance"])
            tbl("native_balances_latest", ENTITY_SCHEMAS["native_balance"], ["address"],
                psize=10**15, stamped=False)
        if "dex_pool" in want:
            tbl("dex_pools", ENTITY_SCHEMAS["dex_pool"], ENTITY_KEYS["dex_pool"])
        if "dex_trade" in want:
            tbl("dex_trades", ENTITY_SCHEMAS["dex_trade"], ENTITY_KEYS["dex_trade"])
            if "liquidity_event" in want:
                tbl("liquidity_events", ENTITY_SCHEMAS["liquidity_event"],
                    ENTITY_KEYS["liquidity_event"])
            if self.cfg.stablecoins:
                from ethereum_etl_spark.schemas import PRICE_MARK_SCHEMA

                tbl("price_marks", PRICE_MARK_SCHEMA,
                    ["token_address", "block_number", "log_index"],
                    stamped=False)
                # compact head: latest mark per token (same idiom as the
                # *_balances_latest projections) — the per-cycle pricing
                # carry, so the as-of never re-scans mark HISTORY (r4: that
                # scan grew linearly with chain history, turning the replay
                # quadratic)
                tbl("price_marks_latest", PRICE_MARK_SCHEMA,
                    ["token_address"], psize=10**15, stamped=False)
        if self.cfg.projections:
            if "log" in want:
                # re-keyed copy: lookups by emitting contract address
                tbl("logs_by_address", ENTITY_SCHEMAS["log"],
                    ["address", "block_number", "transaction_hash", "log_index"])
            if "transaction" in want:
                tbl("transactions_by_address", _enriched_tx_schema(),
                    ["from_address", "block_number", "hash"])
        if "candle" in want and "token_transfer" in want:
            for b, (_duration, secs) in CANDLE_BUCKETS.items():
                tbl(
                    f"candles_{b}",
                    StructType.fromDDL(CANDLE_SCHEMA_DDL),
                    ["token_address", "bucket_epoch"],
                    prune="bucket_epoch",
                    # ~one lake partition per day of 1m/5m/1h candles, per
                    # month of 1d candles (partition counts stay balanced
                    # across resolutions)
                    psize=86_400 if secs < 86_400 else 86_400 * 32,
                    stamped=False,
                )

    # ---------- one sync cycle ----------

    def _decode_batch(self, batch: DataFrame):
        """Decode raw entities once — the memoized thunk DAG. Returns the
        memo and the list of decodes it cached.

        A decode is cached only when a second derivation asks for it (the
        log enrich re-reads the blocks, the tx enrich the receipts); with
        one consumer the decode runs inside that consumer's merge job, and
        a cache would only add a job to build it. Caching on the second
        request still serves the first consumer: cached data is
        substituted when a plan executes, and every merge executes after
        _derive has built all the plans. A single-consumer decode carries
        the null-key guard fused into its plan; the guard stays above the
        decode's JSON parse, so each payload is parsed once (see
        drop_null_keys)."""
        decoded: dict[str, DataFrame] = {}
        views: dict[str, DataFrame] = {}
        cached: list[DataFrame] = []
        lock = threading.Lock()  # the dex parse asks from a merge thread

        def get(entity):
            with lock:
                if entity not in views:
                    decoded[entity] = self._decoders[entity](batch)
                    views[entity] = drop_null_keys(decoded[entity], entity)
                elif not decoded[entity].is_cached:
                    # null-key guard above the cache boundary: the JSON
                    # parse of a shared decode runs exactly once
                    cached.append(decoded[entity].cache())
                return views[entity]

        return get, cached

    # ---------- per-family builders ----------

    def _derive(
        self,
        get,
        memo: BatchMemo,
        aux_cache: list,
        present_t0s: set[str],
        reorg_free: bool = False,
    ) -> dict[str, dict]:
        """Entity table → merge spec (decode + enrich + stamp), one builder
        per family in derivation order: later families read the frames
        earlier ones left in ``_Frames``. ``memo``: the per-batch memo the
        deferred frames are built through; the caller releases its
        checkpoints once the batch is done. ``reorg_free``: the batch has no
        reorg rows and no forced deletes, so a decoded entity holds one row
        per key (the invariant behind _UNIQUE_BATCH_KEY_ENTITIES) and the tx
        enrich skips its dedup."""
        want = set(self.cfg.entity_types)
        fr = _Frames(get, aux_cache, reorg_free)
        out = self._base_specs(fr, want)
        out.update(self._trace_specs(fr, want))
        if "token" in want:
            from ethereum_etl_spark.operators.tokens import normalize_token_metadata

            out["tokens"] = _spec(stamp(normalize_token_metadata(get("token")), "token"))
        if self.cfg.projections:
            if "logs" in out:
                out["logs_by_address"] = _spec(out["logs"]["df"])
            if "transactions" in out:
                out["transactions_by_address"] = _spec(out["transactions"]["df"])
        out.update(self._balance_specs(fr, want))
        if want & {"dex_pool", "dex_trade"}:
            dex = DexBatch(
                self, memo, present_t0s, get,
                trace_frames=fr.trace_frames,
                transfers=fr.token_transfers,
                token_balances=fr.token_balances,
            )
            out.update(dex.specs())
        if "candle" in want and fr.token_transfers is not None:
            out.update(self._candle_specs(fr.token_transfers, memo))
        return out

    def _base_specs(self, fr: _Frames, want: set[str]) -> dict[str, dict]:
        """Blocks, transactions (receipt-enriched), receipts, logs and token
        transfers (block-enriched)."""
        get = fr.get
        out: dict[str, dict] = {}
        if "block" in want:
            out["blocks"] = _spec(stamp(get("block"), "block", ts_col="timestamp"))
        if "transaction" in want:
            fr.enriched_tx = enrich_transactions(
                get("transaction"), get("receipt"), self.cfg.strict_counts,
                dedup=not fr.reorg_free,
            )
            out["transactions"] = _spec(
                stamp(fr.enriched_tx, "transaction", ts_col="block_timestamp")
            )
        if "receipt" in want:
            out["receipts"] = _spec(stamp(get("receipt"), "receipt"))
        if "log" in want:
            logs = enrich_with_blocks(get("log"), get("block"), self.cfg.strict_counts)
            out["logs"] = _spec(stamp(logs, "log", ts_col="block_timestamp"))
        if "token_transfer" in want:
            tt = extract_token_transfers(get("log"))
            tt = enrich_with_blocks(tt, get("block")).cache()
            # the ERC decode feeds BOTH the transfers merge and the balance
            # cumsum build — cache it or the whole extract runs twice
            # (measured ~2x the costliest non-Python stage)
            fr.aux_cache.append(tt)
            fr.token_transfers = tt
            out["token_transfers"] = _spec(
                stamp(tt, "token_transfer", ts_col="block_timestamp")
            )
        return out

    def _trace_specs(self, fr: _Frames, want: set[str]) -> dict[str, dict]:
        """Geth traces, and the traces/internal transfers/contracts derived
        from ONE tree-flatten pass (the mapInPandas walk is the costliest
        Python stage in the cycle; it used to run a second time for internal
        transfers)."""
        from ethereum_etl_spark.operators.contracts import extract_contracts
        from ethereum_etl_spark.operators.traces import (
            INTERNAL_COLS,
            assign_trace_index,
            flatten_geth_traces,
            internal_transfers_from_frames,
        )

        out: dict[str, dict] = {}
        if "geth_trace" in want:
            out["geth_traces"] = _spec(stamp(fr.get("geth_trace"), "geth_trace"))
        if not want & {"trace", "contract", "internal_transfer"}:
            return out
        flat = flatten_geth_traces(
            fr.get("geth_trace"), include_internal="internal_transfer" in want
        ).cache()
        fr.aux_cache.append(flat)
        fr.trace_frames = flat.drop(*INTERNAL_COLS)
        if "trace" in want:
            out["traces"] = _spec(stamp(assign_trace_index(fr.trace_frames), "trace"))
        if "internal_transfer" in want:
            itr = internal_transfers_from_frames(flat)
            out["internal_transfers"] = _spec(stamp(itr, "internal_transfer"))
        if "contract" in want:
            contracts = extract_contracts(frames=fr.trace_frames)
            out["contracts"] = _spec(stamp(contracts, "contract"))
        return out

    def _balance_specs(self, fr: _Frames, want: set[str]) -> dict[str, dict]:
        """Token and native balance history, carried in from each family's
        latest-state head, plus the head projections. Each balance frame is
        cached: its history AND latest merges both read it."""
        from ethereum_etl_spark.operators.balances import (
            latest_native_balances,
            latest_token_balances,
            native_balances_from_transactions,
            token_balances_from_transfers,
        )

        out: dict[str, dict] = {}
        if "token_balance" in want and fr.token_transfers is not None:
            carry = self.tables["token_balances_latest"].read()
            tb = token_balances_from_transfers(fr.token_transfers, carry_in=carry).cache()
            fr.aux_cache.append(tb)
            fr.token_balances = tb  # the v3 reserves as-of reads them too
            out["token_balances"] = _spec(stamp(tb, "token_balance"))
            out["token_balances_latest"] = _spec(latest_token_balances(tb), **_HEAD)
        if "native_balance" in want:
            carry = self.tables["native_balances_latest"].read()
            # the ENRICHED tx frame (receipt gas fields joined) turns on the
            # fee debit; blocks provide the miner tip credit — same formula
            # the reorg recompute applies over the committed tables
            nb = native_balances_from_transactions(
                fr.enriched_tx if fr.enriched_tx is not None else fr.get("transaction"),
                carry_in=carry,
                blocks=fr.get("block") if "block" in want else None,
            ).cache()
            fr.aux_cache.append(nb)
            out["native_balances"] = _spec(stamp(nb, "native_balance"))
            out["native_balances_latest"] = _spec(latest_native_balances(nb), **_HEAD)
        return out

    def _candle_specs(self, transfers: DataFrame, memo: BatchMemo) -> dict[str, dict]:
        """Deferred: recompute OHLCV for the buckets this batch touches,
        FROM the committed token_transfers table (after its merge, DEPS),
        then MERGE keyed (token, bucket), once per resolution. This is the
        deterministic replay-safe alternative to streaming-state candles
        (SURVEY §7 'reorg vs streaming state').

        ONE bucket-discovery job shared by every resolution: the finest
        bucket set is collected once (through the batch memo) and coarser
        sets are derived by integer flooring driver-side — exact, as every
        width is a multiple of the finest, so floor(fine_bucket/secs)*secs
        == floor(ts/secs)*secs. The four per-resolution distinct+collect
        jobs this replaces were pure serial latency in the candle merge
        threads (r6)."""
        fine = min(secs for _duration, secs in CANDLE_BUCKETS.values())

        def fine_buckets():
            return memo.get(
                "candle_buckets",
                lambda: [
                    r[0]
                    for r in transfers.select(
                        (F.floor(F.col("block_timestamp") / fine) * fine).alias("b")
                    )
                    .distinct()
                    .collect()
                    if r[0] is not None
                ],
            )

        return {
            f"candles_{b}": _spec(
                None,
                df_fn=functools.partial(self._candles, fine_buckets, duration, secs),
                full_touch=True,
            )
            for b, (duration, secs) in CANDLE_BUCKETS.items()
        }

    def _candles(self, fine_buckets, duration: str, secs: int):
        """One resolution's candles over the committed transfers in the
        buckets this batch touched, or None when it touched none."""
        from ethereum_etl_spark.operators.candles import ohlcv

        buckets = sorted({b // secs * secs for b in fine_buckets()})
        if not buckets:
            return None, {}
        lo_b, hi_b = min(buckets), max(buckets)
        stored = self.tables["token_transfers"].read()
        src = stored.filter(
            F.col("block_timestamp").between(lo_b, hi_b + secs - 1)
        ).withColumn("bucket_epoch", F.floor(F.col("block_timestamp") / secs) * secs)
        if len(buckets) <= 256:
            # sparse-bucket prune; a dense set (whole-WAL replay at 1m
            # resolution = 10^4 buckets) would plan a 10^4-literal isin for
            # nothing — the range filter already bounds the scan, and
            # recomputing an untouched in-range bucket is an idempotent no-op
            src = src.filter(F.col("bucket_epoch").isin(buckets))
        src = src.withColumn("ts", F.to_timestamp("block_timestamp")).withColumn(
            "tb", F.struct(F.col("block_number"), F.col("log_index"))
        )
        cand = ohlcv(
            src, key_col="token_address", ts_col="ts",
            value_col="value", tiebreak_col="tb", bucket=duration,
        ).withColumn("bucket_epoch", F.unix_timestamp("bucket_start"))
        cand = cand.select(
            "token_address", "bucket_epoch", "bucket_start",
            "open", "high", "low", "close",
            F.col("volume").cast("decimal(38,0)").alias("volume"),
            "trades",
        )
        return cand, {"touched_range": (lo_b, hi_b), "version_col": None}

    # ---------- one sync cycle ----------

    def sync_cycle(
        self, tailer: WalTailer, watermark: int, allow_skip: bool = False
    ) -> int | None:
        """Plan, merge and commit one batch from ``watermark``. Returns the
        new watermark, or None when there is nothing to read. A failing
        cycle is logged with its batch before the exception propagates; the
        watermark stays put and the intent pins the range for the retry."""
        batch_id = None
        try:
            t0 = time.time()
            compiles0 = self._compiles.getCount()
            jobs0 = self._dag.nextJobId()
            pre = self._take_prefetch(watermark)
            # crash-replay pinning: a persisted intent for THIS watermark
            # means a previous attempt planned (and possibly partially
            # committed) the batch — reuse its exact range so the batch_id
            # matches and every already-committed per-table merge replays as
            # a no-op, even if the WAL head advanced in between (see
            # WatermarkStore.set_intent)
            intent = self.watermarks.get_intent()
            pinned = intent[1] if intent is not None and intent[0] == watermark else None
            if pinned is not None:
                target = pinned
            elif pre is not None and not allow_skip:
                # prefetched while the previous cycle merged: range, cached
                # df and stats are already in hand (a stale head only
                # shrinks the range — correct, the next cycle catches the
                # rest)
                target = pre["hi"]
            else:
                target = tailer.compute_target(watermark, allow_skip=allow_skip)
            if pre is not None and pre["hi"] != target:
                self._release_prefetch(pre)
                pre = None
            if target is None:
                return None
            batch_id = f"{watermark}-{target}"
            if pre is None:
                batch = self._prepare_batch(
                    tailer.read_range(watermark, target), watermark, target
                )
                pre_srows = pre_memo = None
            else:
                batch, pre_srows, pre_memo = pre["df"], pre["srows"], pre["memo"]
            if pinned is None:
                self.watermarks.set_intent(watermark, target)
            # predict + read + stat the NEXT range while this batch processes
            self._prefetch_next(tailer, target)
            info = self._apply_batch(
                batch, batch_id, pre_srows=pre_srows, pre_memo=pre_memo
            )
            # watermark AFTER sink commit (streamer.py:128-132)
            self.watermarks.set(target)
            self.lineage.record(
                batch_id=batch_id,
                lo=watermark,
                hi=target,
                duration_s=round(time.time() - t0, 3),
                # generated classes compiled during the cycle (the prefetch
                # thread's included): a steady cycle should hit the class
                # cache
                codegen_compiles=self._compiles.getCount() - compiles0,
                # Spark jobs submitted during the cycle, the prefetch
                # thread's included (every thread's jobs share the one
                # counter)
                spark_jobs=self._dag.nextJobId() - jobs0,
                **info,
            )
            return target
        except Exception:
            # a caller may swallow the exception; the cause stays on record
            _log.exception(
                "sync cycle failed at watermark %s (batch %s)",
                watermark, batch_id or "not planned",
            )
            raise

    def _apply_batch(
        self,
        batch: DataFrame,
        batch_id: str,
        force_delete_blocks: list[int] | None = None,
        pre_srows=None,
        pre_memo: BatchMemo | None = None,
    ) -> dict:
        """Decode → enrich → MERGE one batch of WAL rows. Returns lineage
        info. ``force_delete_blocks``: treat these block numbers as reorged
        regardless of op (the verifier repair path). ``pre_srows``: batch
        stats already computed by the prefetch thread; ``pre_memo``: the
        batch memo holding the parsed-log checkpoint pre-built by the same
        thread (only for reorg-free batches — see _prebuild_parsed)."""
        phase_secs: dict[str, float] = {}
        __t = time.time()
        if not getattr(batch, "_ees_clustered", False):
            batch = _cluster_batch(batch)
        # a staged batch (entity-partitioned parquet spill) is its own
        # storage — no in-heap cache
        if getattr(batch, "_ees_staged", None) is None and not batch.is_cached:
            batch = batch.cache()
        # the cached frame itself: a reorg rebinds `batch` to its winner
        # filter, whose unpersist would leave this cache pinned
        cached_batch = batch

        # ONE stats pass over the batch, grouped by entity_type: block span
        # + reorg presence + PER-ENTITY row counts. The span becomes the
        # touched-partition hint for every table MERGE (no per-table
        # discovery scans) and the counts let _merge_one skip merges whose
        # SOURCE entity is absent from the batch without launching an
        # isEmpty job per table. Prefetched off the critical path when the
        # previous cycle predicted this range.
        srows = pre_srows if pre_srows is not None else self._batch_stats(batch)
        if not srows:  # empty range
            self._discard_batch(cached_batch)
            return {"entities": [], "reorg": False, "rows": 0}
        raw_counts = {r["entity_type"]: int(r["n"]) for r in srows}
        n_reorg = sum(int(r["nr"]) for r in srows)
        b = _Batch(
            batch_id=batch_id,
            raw_counts=raw_counts,
            lo_bn=min(int(r["lo"]) for r in srows),
            hi_bn=max(int(r["hi"]) for r in srows),
            has_reorg=n_reorg > 0 or bool(force_delete_blocks),
            reorg_blocks=list(force_delete_blocks or []),
        )
        phase_secs["stats"] = round(time.time() - __t, 3)

        pre_keys_captured = False
        if b.has_reorg:
            batch, b.reorg_blocks = self._reorg_winners(batch, b.reorg_blocks)
            # BEFORE the merges delete the orphaned rows: journal the balance
            # keys that currently have history AT the reorged blocks. A key
            # touched only by an orphaned transaction (the dropped-tx case)
            # leaves no post-merge trace there, yet its carry-forward rows
            # are poisoned — the repair below must still find it (ADVICE r2).
            if b.reorg_blocks:
                pre_keys_captured = self._journal_pre_reorg_keys(
                    b.reorg_blocks, batch_id
                )
            # the pre-parse reads the unfiltered batch; the reorg path
            # parses the winner-filtered one instead
            if pre_memo is not None:
                pre_memo.release()
                pre_memo = None
        memo = pre_memo or BatchMemo()

        __t = time.time()
        get, cached = self._decode_batch(batch)
        aux_cache: list = []
        # topic0 set extracted by the (possibly prefetched) stats pass —
        # _derive then builds pure plans, launching no executor jobs
        derived = self._derive(
            get, memo, aux_cache, _present_t0s(srows), reorg_free=not b.has_reorg
        )
        phase_secs["plan"] = round(time.time() - __t, 3)
        __t = time.time()
        merge_secs = self._run_merges(derived, b)
        phase_secs["merges"] = round(time.time() - __t, 3)
        __t = time.time()
        if b.has_reorg and b.reorg_blocks:
            self._repair_after_reorg(b, pre_keys_captured)
        phase_secs["reorg_fix"] = round(time.time() - __t, 3)

        if self.cfg.collect_errors:
            self._append_decode_errors(batch, batch_id)
        etl_delay = _etl_delay(srows)
        for cdf in cached + aux_cache:
            cdf.unpersist()
        memo.release()
        self._discard_batch(cached_batch)
        return {
            "entities": list(derived),
            "reorg": bool(b.has_reorg),
            "lo_block": b.lo_bn,
            "hi_block": b.hi_bn,
            "n_events": sum(raw_counts.values()),
            "merge_secs": merge_secs,
            "phase_secs": phase_secs,
            "dex_step_secs": memo.secs,
            "etl_delay": etl_delay,
        }

    def _reorg_winners(self, batch: DataFrame, force_delete_blocks: list[int]):
        """The batch without in-batch rows superseded by a same-batch reorg,
        and the sorted reorged blocks (contested ones ∪ the forced ones).
        The winner is the latest-seq hash per superseded block
        (clickhouse_eth_streamer_adapter.py:815-890)."""
        contested = F.col("op") == "reorg"
        if force_delete_blocks:
            contested = contested | F.col("block_number").isin(force_delete_blocks)
        winners = (
            batch.filter(contested)
            .groupBy("block_number")
            .agg(F.max_by("block_hash", "seq").alias("__winning_hash"))
            .collect()
        )
        reorg_blocks = sorted(
            {int(r["block_number"]) for r in winners} | set(force_delete_blocks)
        )
        wdf = self.spark.createDataFrame(
            [(r["block_number"], r["__winning_hash"]) for r in winners],
            "block_number long, __winning_hash string",
        )
        kept = (
            batch.join(F.broadcast(wdf), on="block_number", how="left")
            .filter(
                F.col("__winning_hash").isNull()
                | (F.col("block_hash") == F.col("__winning_hash"))
            )
            .drop("__winning_hash")
        )
        return kept, reorg_blocks

    def _run_merges(self, derived: dict[str, dict], b: _Batch) -> dict[str, float]:
        """MERGE every derived table, concurrently on one thread pool, each
        after the commits it waits for (DEPS). Returns seconds per table."""
        merge_secs: dict[str, float] = {}
        futures: dict[str, object] = {}

        def task(name, upstream):
            for f in upstream:
                f.result()  # wait for the upstream commit
            secs = self._merge_one(name, derived[name], b)
            if secs is not None:
                merge_secs[name] = secs

        with ThreadPoolExecutor(max_workers=max(1, len(derived))) as ex:
            # _merge_order submits every upstream before its dependents, so
            # each task finds the futures it waits on
            for name in _merge_order(derived):
                upstream = [futures[d] for d in DEPS.get(name, []) if d in futures]
                futures[name] = ex.submit(task, name, upstream)
            for f in futures.values():
                f.result()  # propagate failures
        return merge_secs

    def _merge_one(self, name: str, spec: dict, b: _Batch) -> float | None:
        """MERGE one derived table; returns its seconds, or None when a
        deferred spec built no frame."""
        __t0 = time.time()
        # one FAIR-scheduler pool per entity merge: jobs share executor
        # slots round-robin instead of FIFO-queueing behind each other
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"merge-{name}")
        t = self.tables[name]
        if spec.get("df_fn") is not None:
            df, overrides = spec["df_fn"]()
            if df is None:
                return None
            spec = {**spec, **overrides, "df": df}
        df = spec["df"]
        full_touch = spec.get("full_touch", False)
        block_keyed = "touched_range" not in spec and not full_touch
        dk = None
        dkc = None
        if b.has_reorg and block_keyed:
            prune = t.manifest().prune_col
            dk = self.spark.createDataFrame(
                [(blk,) for blk in b.reorg_blocks], f"{prune} long"
            )
            dkc = [prune]
        # skip merges with provably nothing to do: source entity absent
        # from the batch (free — from the stats pass), or — for the two
        # dimension tables whose VERSION gates the cross-cycle snapshot
        # cache — an isEmpty probe on the (cached) derived frame. The
        # version staying put is what lets _dim_snapshot serve pools/
        # tokens from memory at the chain tail. Replay safety: an empty
        # batch replays to an empty batch.
        src_ent = _SOURCE_ENTITY.get(name)
        if dk is None and (
            (src_ent is not None and b.raw_counts.get(src_ent, 0) == 0)
            or (name in ("dex_pools", "tokens") and df.isEmpty())
        ):
            return round(time.time() - __t0, 3)
        version_col = spec.get(
            "version_col",
            "_ingest_seq" if "_ingest_seq" in df.columns else None,
        )
        # full_touch tables (latest-state projections) always rewrite
        # their single partition; deferred specs carry their own range
        touched = spec.get(
            "touched_range", (0, 0) if full_touch else (b.lo_bn, b.hi_bn)
        )
        t.merge_upsert(
            df,
            batch_id=b.batch_id,
            version_col=version_col,
            delete_keys=dk,
            delete_key_cols=dkc,
            touched_range=touched,
            extra_touched_values=b.reorg_blocks if block_keyed else None,
            # these entities carry at most one row per key within a
            # reorg-free batch (the WAL is seq-unique and the key embeds the
            # block) — the in-batch dedup window is provably a no-op on the
            # append path. token_transfers and internal_transfers are NOT
            # listed: an ERC-1155 batch log can repeat a token_id, and the
            # reference's depth-string id can collide past 10 siblings —
            # both need the last-write-wins collapse.
            skip_batch_dedup=(
                block_keyed
                and not b.has_reorg
                and name in _UNIQUE_BATCH_KEY_ENTITIES
            ),
        )
        for fmt, out_dir in self.cfg.fanout.get(name, []):
            out = df
            if fmt == "csv":
                for fld in out.schema.fields:
                    if fld.dataType.typeName() in ("array", "map", "struct"):
                        out = out.withColumn(fld.name, F.to_json(fld.name))
            (
                out.write.mode("overwrite")
                .format(fmt)
                .option("header", "true")
                .save(f"{out_dir}/batch={b.batch_id}")
            )
        return round(time.time() - __t0, 3)

    def _repair_after_reorg(self, b: _Batch, use_journal: bool) -> None:
        """Balances are running sums — a reorg invalidates every row of an
        affected key from the reorged block forward (the carry-in had
        already absorbed the orphaned deltas). Recompute those keys from the
        now-committed transfer/transaction tables (the same
        deferred-recompute pattern candles use). The balance repair and the
        trade re-pricing touch disjoint tables (token/native balances vs
        price_marks_latest/dex_trades) and each is a serial chain of small
        jobs — run them concurrently (the repair phase is a fixed per-reorg
        latency cost that does not shrink with cores, so halving its chain
        is a direct scaling-efficiency win)."""
        args = (b.reorg_blocks, b.hi_bn, b.batch_id, use_journal)
        with ThreadPoolExecutor(max_workers=2) as rex:
            f_bal = rex.submit(self._reorg_fix_balances, *args)
            f_dex = rex.submit(self._reorg_fix_dex_prices, *args)
            f_bal.result()
            f_dex.result()

    # ---------- reorg balance repair ----------

    def _repair_journal(self) -> LakeTable:
        """Tiny append-only journal of pre-merge affected balance keys, one
        row set per reorg batch. Append is idempotent per batch_id, so a
        crash between the phase-1 merges and the repair replays into the SAME
        journaled key set — the repair never depends on state the merges
        already destroyed."""
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        if "_reorg_repair_keys" not in self.tables:
            self.tables["_reorg_repair_keys"] = LakeTable.create(
                self.spark,
                f"{self.cfg.warehouse}/_reorg_repair_keys",
                StructType([
                    StructField("block_lo", LongType(), False),
                    StructField("table_name", StringType(), False),
                    StructField("key_json", StringType(), False),
                    StructField("repair_batch_id", StringType(), False),
                ]),
                key=["block_lo", "table_name", "key_json", "repair_batch_id"],
                prune_col="block_lo",
                partition_size=self.cfg.partition_size,
                if_not_exists=True,
            )
        return self.tables["_reorg_repair_keys"]

    def _journal_pre_reorg_keys(self, reorg_blocks: list[int], batch_id: str) -> bool:
        """Capture, BEFORE the phase-1 merges run, the balance keys that have
        a history row AT the reorged blocks (every key touched by an orphaned
        transfer wrote one). Journaled distributed — never collected to the
        driver. Returns True when the journal holds this batch's keys (fresh
        capture or an earlier attempt's — the append is batch_id-idempotent,
        and on a crash replay the journaled set from the first attempt is the
        correct pre-merge one)."""
        mn, mx = min(reorg_blocks), max(reorg_blocks)
        rows = None
        # price_marks tokens journal alongside the balance keys: a token
        # whose ONLY mark at the reorged blocks was orphaned leaves no
        # post-merge trace either, yet trades committed after it were priced
        # against that mark (ADVICE r4 — see _reorg_fix_dex_prices)
        journal_tables = dict(_BALANCE_KEY_COLS)
        journal_tables["price_marks"] = ["token_address"]
        for name, cols in journal_tables.items():
            if name not in self.tables:
                continue
            df = (
                self.tables[name]
                .read(prune_min=mn, prune_max=mx)
                .filter(F.col("block_number").isin(reorg_blocks))
                .select(
                    F.lit(mn).cast("long").alias("block_lo"),
                    F.lit(name).alias("table_name"),
                    F.to_json(F.struct(*cols)).alias("key_json"),
                    F.lit(batch_id).alias("repair_batch_id"),
                )
                .distinct()
            )
            rows = df if rows is None else rows.unionByName(df)
        if rows is None:
            return False
        self._repair_journal().append(rows, batch_id=f"{batch_id}/reorg-keys")
        return True

    def _ns_join(self, left, right, cols: list[str], how: str):
        """Join on null-safe key equality (token_id is NULL for ERC-20)."""
        r = right.select(*[F.col(c).alias(f"__r_{c}") for c in cols]).distinct()
        cond = None
        for c in cols:
            eq = left[c].eqNullSafe(F.col(f"__r_{c}"))
            cond = eq if cond is None else cond & eq
        out = left.join(F.broadcast(r), on=cond, how=how)
        return out.drop(*[f"__r_{c}" for c in cols]) if how == "inner" else out

    def _reorg_fix_balances(
        self,
        reorg_blocks: list[int],
        hi_bn: int,
        batch_id: str,
        use_journal: bool = False,
    ) -> None:
        """Repair balance tables after a reorg (ADVICE r1: the carry-in from
        the latest-balance table already contained the orphaned blocks'
        deltas, so the phase-1 incremental merge leaves every affected key
        poisoned from the reorged block forward — including history rows
        committed by the batches between the orphaned block and the fork's
        arrival reorg_lag later).

        Method, per balance family:
        1. affected keys = PRE-merge keys with a history row AT a reorged
           block (journaled by _journal_pre_reorg_keys before the merges —
           the only place orphan-only keys are still visible; ADVICE r2)
           UNION post-merge keys there (fork-touched keys). Kept distributed
           end-to-end: a deep reorg over busy blocks can carry 10^5-10^6
           keys, never collected to the driver; localCheckpoint pins the set
           before the merges below GC the snapshot files it was read from.
        2. boundary = reorged block rounded down to the lake-partition edge;
           recompute the running sums for the AFFECTED keys over [boundary, hi]
           from the committed (reorg-merged) transfers/transactions, carried
           in from each key's last pre-boundary history row.
        3. MERGE: delete affected keys' rows in partitions ≥ boundary
           (null-safe on token_id) and upsert the recomputed rows; rebuild
           the latest-state projection for those keys the same way (an
           affected key with every transfer orphaned falls back to its
           pre-boundary row, or is removed from the projection entirely).

        Cost is bounded by reorg depth + one partition's width, plus a
        key-semi-joined scan of the pre-boundary history for the carry
        lookups — reorgs are rare, and the recompute is the same pattern the
        candles table already uses."""
        from pyspark.sql.types import StructType

        from ethereum_etl_spark.operators.balances import (
            latest_native_balances,
            latest_token_balances,
            native_balances_from_transactions,
            token_balances_from_transfers,
        )

        min_rb = min(reorg_blocks)
        # the affected-key checkpoints, released when the repair ends
        pinned: list[DataFrame] = []

        def fix(hist_name, latest_name, key_cols, recompute, latest_of):
            if hist_name not in self.tables or latest_name not in self.tables:
                return
            t = self.tables[hist_name]
            m = t.manifest()
            boundary = (min_rb // m.partition_size) * m.partition_size
            akeys_all = (
                t.read(prune_min=min_rb, prune_max=max(reorg_blocks))
                .filter(F.col("block_number").isin(reorg_blocks))
                .select(*key_cols)
            )
            if use_journal:
                kschema = StructType([m.schema[c] for c in key_cols])
                # read journal rows for the affected blocks REGARDLESS of
                # repair_batch_id (ADVICE r4 medium): a crash between the
                # phase-1 merges and this repair replays under a DIFFERENT
                # batch_id when the WAL head advanced (compute_target yields
                # a larger target), and the replay's own pre-merge capture
                # runs after the crashed attempt's merges already deleted the
                # orphan-only history rows — only the FIRST attempt's journal
                # rows still name those keys. Including keys journaled by
                # older reorgs at the same blocks is harmless: the repair is
                # an idempotent recompute.
                journaled = (
                    self._repair_journal()
                    .read(prune_min=min_rb, prune_max=max(reorg_blocks))
                    .filter(
                        F.col("block_lo").between(min_rb, max(reorg_blocks))
                        & (F.col("table_name") == hist_name)
                    )
                    .select(F.from_json("key_json", kschema).alias("k"))
                    .select("k.*")
                )
                akeys_all = akeys_all.unionByName(journaled)
            akeys = akeys_all.distinct().localCheckpoint(eager=True)
            pinned.append(akeys)
            if akeys.isEmpty():
                return
            base = None
            if boundary > 0:
                # carry-in: last pre-boundary row per affected key (the
                # recompute below is key-filtered to the same set, so this
                # is the only carry it needs)
                pre = self._ns_join(
                    t.read(prune_max=boundary - 1), akeys, key_cols, "inner"
                )
                base = latest_of(pre).cache()
                base.count()  # materialize: the source snapshot is GC'd below
            recomputed = recompute(boundary, base, akeys).cache()
            recomputed.count()  # materialize once: BOTH merges below read it
            new_latest = latest_of(recomputed)
            if base is not None:
                only_base = self._ns_join(base, new_latest.select(*key_cols), key_cols, "left_anti")
                new_latest = new_latest.unionByName(only_base)
            # the history and latest-projection merges touch different
            # tables and share only the materialized cache — run them
            # concurrently (halves the repair's small-job latency chain)
            with ThreadPoolExecutor(max_workers=2) as ex2:
                f_hist = ex2.submit(
                    t.merge_upsert,
                    recomputed,
                    batch_id=f"{batch_id}/reorg-fix-{hist_name}",
                    version_col=None,
                    delete_keys=akeys,
                    delete_key_cols=key_cols,
                    touched_range=(boundary, hi_bn),
                )
                f_latest = ex2.submit(
                    self.tables[latest_name].merge_upsert,
                    new_latest,
                    batch_id=f"{batch_id}/reorg-fix-{latest_name}",
                    version_col=None,
                    delete_keys=akeys,
                    delete_key_cols=key_cols,
                    touched_range=(0, 0),
                )
                f_hist.result()
                f_latest.result()
            recomputed.unpersist()
            if base is not None:
                base.unpersist()

        jobs = []
        if "token_transfers" in self.tables:
            tt_t = self.tables["token_transfers"]

            def recompute_token(boundary, base, akeys):
                tt = tt_t.read(prune_min=boundary, prune_max=hi_bn)
                return stamp(
                    token_balances_from_transfers(
                        tt, carry_in=base, key_filter=akeys
                    ),
                    "token_balance",
                )

            jobs.append(lambda: fix(
                "token_balances",
                "token_balances_latest",
                ["token_address", "holder_address", "token_id"],
                recompute_token,
                latest_token_balances,
            ))

        if "transactions" in self.tables:
            tx_t = self.tables["transactions"]

            def recompute_native(boundary, base, akeys):
                tx = tx_t.read(prune_min=boundary, prune_max=hi_bn)
                blk = (
                    self.tables["blocks"].read(prune_min=boundary, prune_max=hi_bn)
                    if "blocks" in self.tables
                    else None
                )
                return stamp(
                    native_balances_from_transactions(
                        tx, carry_in=base, key_filter=akeys, blocks=blk
                    ),
                    "native_balance",
                )

            jobs.append(lambda: fix(
                "native_balances",
                "native_balances_latest",
                ["address"],
                recompute_native,
                latest_native_balances,
            ))

        if jobs:
            # the two balance families touch disjoint tables — repair them
            # concurrently (each is itself a serial chain of reads + merges)
            try:
                with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
                    for f in [ex.submit(j) for j in jobs]:
                        f.result()
            finally:
                release_checkpoints(pinned)

    def _reorg_fix_dex_prices(
        self,
        reorg_blocks: list[int],
        hi_bn: int,
        batch_id: str,
        use_journal: bool = False,
    ) -> None:
        """Re-enrich dex_trades priced against now-orphaned marks (ADVICE
        r4): trades in the blocks processed BETWEEN an orphaned block and the
        fork's arrival (reorg_lag later) carry prices_stable/amount_stable
        computed from marks the reorg just replaced — without this they
        silently diverge from a from-scratch recompute forever.

        Affected tokens = post-merge (fork) marks at the reorged blocks ∪
        pre-merge journaled mark tokens there (a token whose only mark was
        orphaned leaves no other trace). Affected trades = committed rows in
        [min_reorg, hi] touching one of those tokens — bounded by reorg
        depth + the batches since. Re-running the same as-of against the
        repaired marks table is idempotent, so re-pricing the reorged-block
        rows the batch just merged is a no-op."""
        if (
            "dex_trades" not in self.tables
            or "price_marks" not in self.tables
            or not self.cfg.stablecoins
        ):
            return
        pinned: list[DataFrame] = []  # its checkpoints, released at the end
        try:
            self._reprice_after_reorg(
                reorg_blocks, hi_bn, batch_id, use_journal, pinned
            )
        finally:
            release_checkpoints(pinned)

    def _reprice_after_reorg(
        self,
        reorg_blocks: list[int],
        hi_bn: int,
        batch_id: str,
        use_journal: bool,
        pinned: list[DataFrame],
    ) -> None:
        """The body of _reorg_fix_dex_prices; appends each eager
        checkpoint it takes to ``pinned``."""
        min_rb, max_rb = min(reorg_blocks), max(reorg_blocks)
        marks_t = self.tables["price_marks"]
        toks = (
            marks_t.read(prune_min=min_rb, prune_max=max_rb)
            .filter(F.col("block_number").isin(reorg_blocks))
            .select("token_address")
        )
        if use_journal:
            toks = toks.unionByName(
                self._repair_journal()
                .read(prune_min=min_rb, prune_max=max_rb)
                .filter(
                    F.col("block_lo").between(min_rb, max_rb)
                    & (F.col("table_name") == "price_marks")
                )
                .select(
                    F.get_json_object("key_json", "$.token_address").alias(
                        "token_address"
                    )
                )
            )
        toks = toks.distinct().localCheckpoint(eager=True)
        pinned.append(toks)
        if not toks.isEmpty() and "price_marks_latest" in self.tables:
            # rebuild the per-token mark head for affected tokens from the
            # repaired history (delete+upsert: a token whose every mark was
            # orphaned leaves the head entirely, so future carries can't
            # resurrect an orphaned price)
            from ethereum_etl_spark.operators.pricing import latest_price_marks

            new_head = latest_price_marks(
                marks_t.read().join(toks, on="token_address", how="left_semi")
            )
            self.tables["price_marks_latest"].merge_upsert(
                new_head,
                batch_id=f"{batch_id}/marks-head-fix",
                version_col=None,
                delete_keys=toks,
                delete_key_cols=["token_address"],
                touched_range=(0, 0),
            )
        t = self.tables["dex_trades"]
        cand = t.read(prune_min=min_rb, prune_max=hi_bn).filter(
            F.col("block_number").between(min_rb, hi_bn)
        )
        key = ["block_number", "transaction_hash", "log_index"]
        # explode-then-semi-join keeps the token set distributed (a deep
        # reorg over busy blocks can touch many tokens — never broadcast)
        akeys = (
            cand.select(*key, F.explode("token_addresses").alias("token_address"))
            .join(toks, on="token_address", how="left_semi")
            .select(*key)
            # trades AT the reorged blocks were re-assembled in the fork
            # batch and priced against the head carry, whose per-token
            # position can be AHEAD of those old blocks — their as-of saw no
            # mark at all (every probe below the head is blind). Re-enrich
            # them against full history unconditionally; probes at the
            # batch's own [lo, hi] blocks are never below the head, so this
            # is the complete set of head-blind rows.
            .unionByName(
                cand.filter(F.col("block_number").isin(reorg_blocks)).select(*key)
            )
            .distinct()
        )
        affected = cand.join(akeys, on=key, how="left_semi")
        if affected.isEmpty():
            return
        from ethereum_etl_spark.operators.pricing import enrich_trades_usd

        re_enr = enrich_trades_usd(
            affected.drop("prices_stable", "amount_stable"),
            [s.lower() for s in self.cfg.stablecoins],
            marks=marks_t.read(),
        ).select(*[f.name for f in t.manifest().schema.fields])
        fix_liquidity = (
            "liquidity_events" in self.tables and "token_transfers" in self.tables
        )
        if fix_liquidity:
            # materialize BEFORE the reprice merge GCs the snapshot this
            # plan reads (affected -> cand -> pre-merge table version)
            liq_txs = (
                affected.filter(F.col("event_type").isin("mint", "burn"))
                .select("transaction_hash")
                .distinct()
                .localCheckpoint(eager=True)
            )
            pinned.append(liq_txs)
        t.merge_upsert(
            re_enr,
            batch_id=f"{batch_id}/reprice",
            touched_range=(min_rb, hi_bn),
        )
        self.lineage.record(batch_id=batch_id, repriced_from_block=min_rb)

        if fix_liquidity:
            # liquidity_events carry the mint/burn trades' prices into their
            # per-wallet fan-out rows — re-derive the affected transactions
            # from the just-repaired trades. Keys (tx, log_index, lp, wallet)
            # are price-independent, so a plain upsert replaces every stale
            # row; reorged-block rows were already re-derived by the fork
            # batch itself.
            from ethereum_etl_spark.operators.liquidity import (
                enrich_liquidity_events,
            )

            if not liq_txs.isEmpty():
                trades_in = (
                    t.read(prune_min=min_rb, prune_max=hi_bn)
                    .filter(F.col("event_type").isin("mint", "burn"))
                    .join(liq_txs, on="transaction_hash", how="left_semi")
                )
                transfers_in = (
                    self.tables["token_transfers"]
                    .read(prune_min=min_rb, prune_max=hi_bn)
                    .join(liq_txs, on="transaction_hash", how="left_semi")
                )
                pools_dim = self._dim_snapshot(
                    "dex_pools", ["address", "lp_token_addresses"]
                )
                toks_dim = self._dim_snapshot(
                    "tokens", ["address", "decimals", "total_supply"]
                )
                fixed = enrich_liquidity_events(
                    trades_in, transfers_in, pools_dim, toks_dim
                )
                self.tables["liquidity_events"].merge_upsert(
                    stamp(fixed, "liquidity_event"),
                    batch_id=f"{batch_id}/reprice-liquidity",
                    touched_range=(min_rb, hi_bn),
                )

    # ---------- dead-letter channel ----------

    def _append_decode_errors(self, batch: DataFrame, batch_id: str) -> None:
        """Rows whose payload fails to parse → errors table (the reference's
        errors entity / DLQ, export_receipts_job.py:93-106 analog)."""
        from pyspark.sql.types import StringType, StructField, StructType

        from ethereum_etl_spark.sources.decode import raw_json_schema

        known = [e for e in self.cfg.entity_types if e in ENTITY_SCHEMAS]
        conds = None
        for e in known:
            raw = StructType(
                list(raw_json_schema(e).fields)
                + [StructField("_corrupt", StringType(), True)]
            )
            parsed = F.from_json(
                "payload", raw, {"columnNameOfCorruptRecord": "_corrupt"}
            )
            bad = (F.col("entity_type") == e) & parsed["_corrupt"].isNotNull()
            conds = bad if conds is None else (conds | bad)
        if conds is None:
            return
        errs = batch.filter(conds).select(
            F.col("seq").alias("timestamp"),
            F.concat(F.lit("decode_error:"), F.col("entity_type")).alias("kind"),
            F.col("payload").alias("data"),
        )
        self.dead_letter(errs, batch_id)

    def dead_letter(self, errs: DataFrame, batch_id: str) -> None:
        """Append (timestamp, kind, data) rows to the errors table — the
        shared DLQ every ingest front-end routes malformed input to (the
        reference's dead-letter exchange, cli/amqp_stream.py:84-96,138-141,
        and errors entity). Idempotent per batch_id like every MERGE."""
        if "errors" not in self.tables:
            self.tables["errors"] = LakeTable.create(
                self.spark,
                f"{self.cfg.warehouse}/errors",
                ENTITY_SCHEMAS["error"],
                key=ENTITY_KEYS["error"],
                prune_col="timestamp",
                partition_size=10**9,
                if_not_exists=True,
            )
        if errs.limit(1).count() > 0:
            self.tables["errors"].append(errs, batch_id=f"err-{batch_id}")

    # ---------- warehouse-first reads (EP2, S11/A11) ----------

    def export_from_warehouse(
        self, entity: str, lo_block: int, hi_block: int, wal: DataFrame | None = None
    ):
        """Storage-first range read with completeness predicates — the
        cache-aside layer of ClickhouseEthStreamerAdapter.export_all
        (clickhouse_eth_streamer_adapter.py:190-462): serve the range from
        the warehouse when the counts prove it complete (:159-167,194-246),
        else fall back to decoding the WAL (the 'node').

        Returns (DataFrame, source) where source ∈ {'warehouse', 'wal'}.
        """
        name = {"block": "blocks", "transaction": "transactions", "log": "logs"}.get(
            entity, entity + "s"
        )
        t = self.tables[name]
        df = t.read(prune_min=lo_block, prune_max=hi_block)
        want_blocks = hi_block - lo_block + 1

        complete = False
        if entity == "block":
            complete = df.count() == want_blocks
        elif entity == "transaction":
            blocks = self.tables["blocks"].read(prune_min=lo_block, prune_max=hi_block)
            agg = blocks.agg(
                F.count(F.lit(1)).alias("n"), F.sum("transaction_count").alias("want_tx")
            ).first()
            complete = agg["n"] == want_blocks and df.count() == (agg["want_tx"] or 0)
        elif entity == "log":
            # sum(receipt_logs_count) alone is vacuous: an empty transactions
            # range sums to 0 and an empty logs table would pass. Mirror the
            # reference's blocks_previously_exported + get_logs_count_from_
            # transactions gates (ch_adapter:159-167,272-294): blocks must be
            # complete, the tx count must match, and EVERY tx must carry a
            # non-null receipt_logs_count before the sum is trusted.
            blocks = self.tables["blocks"].read(prune_min=lo_block, prune_max=hi_block)
            bagg = blocks.agg(
                F.count(F.lit(1)).alias("n"), F.sum("transaction_count").alias("want_tx")
            ).first()
            txs = self.tables["transactions"].read(prune_min=lo_block, prune_max=hi_block)
            tagg = txs.agg(
                F.count(F.lit(1)).alias("n_tx"),
                F.sum("receipt_logs_count").alias("want_logs"),
                F.sum(
                    F.when(F.col("receipt_logs_count").isNull(), 1).otherwise(0)
                ).alias("n_null"),
            ).first()
            tx_complete = (
                bagg["n"] == want_blocks
                and tagg["n_tx"] == (bagg["want_tx"] or 0)
                and (tagg["n_null"] or 0) == 0
            )
            complete = tx_complete and df.count() == (tagg["want_logs"] or 0)
        else:
            complete = df.count() > 0

        if complete:
            return df, "warehouse"
        if wal is None:
            raise LookupError(
                f"{name} incomplete for blocks [{lo_block}, {hi_block}] and no WAL fallback"
            )
        # the streamer's own decoder when it has one, so the fallback
        # carries the same evolved and sidecar columns as the table; the
        # range read takes upserts only, as the node would serve them
        decode = self._decoders.get(entity) or EntityDecoder(entity)
        fallback = decode(
            wal.filter(
                F.col("block_number").between(lo_block, hi_block)
                & (F.col("op") == "upsert")
            )
        )
        return fallback, "wal"

    # ---------- reorg verifier (clickhouse_eth_streamer_adapter.py:789-943) ----------

    def detect_reorged_blocks(self, canonical_blocks: DataFrame) -> list[int]:
        """Compare stored block (number, hash) against a canonical view
        (e.g. the chain head); return mismatched block numbers."""
        stored = self.tables["blocks"].read().select("number", "hash")
        canon = canonical_blocks.select(
            F.col("number").alias("number"), F.col("hash").alias("__canon_hash")
        )
        return [
            int(r["number"])
            for r in stored.join(canon, on="number")
            .filter(F.col("hash") != F.col("__canon_hash"))
            .select("number")
            .collect()
        ]

    def repair_blocks(self, wal: DataFrame, block_numbers: list[int]) -> None:
        """Re-export the given blocks from the WAL: delete+upsert every
        entity for those block numbers using the latest-seq WAL rows —
        the mark-as-reorged + re-export path (ch_adapter:839-942)."""
        if not block_numbers:
            return
        sub = wal.filter(F.col("block_number").isin(block_numbers))
        batch_id = "repair-" + "-".join(str(b) for b in sorted(block_numbers)[:8])
        self._apply_batch(sub, batch_id, force_delete_blocks=block_numbers)
        self.lineage.record(batch_id=batch_id, repaired_blocks=block_numbers)

    def run(
        self,
        tailer: WalTailer,
        start: int = 0,
        max_cycles: int | None = None,
        allow_catchup_skip: bool = False,
    ) -> int:
        """Replay until caught up. Returns final watermark.
        ``allow_catchup_skip``: when far behind, jump the watermark to head
        (streamer.py:136-149 catch-up guard)."""
        wm = self.watermarks.init_resume(start)
        cycles = 0
        while max_cycles is None or cycles < max_cycles:
            nxt = self.sync_cycle(tailer, wm, allow_skip=allow_catchup_skip)
            if nxt is None:
                break
            wm = nxt
            cycles += 1
        self._drop_prefetch()
        return wm

    def _drop_prefetch(self) -> None:
        """Wait for the in-flight prefetch and release what it holds."""
        self._take_prefetch(watermark=None)  # no prefetch starts at None
