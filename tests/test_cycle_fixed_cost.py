"""Per-cycle fixed cost of the tail loop: generated classes are reused
across cycles, each entity's decode is built once and reused, the decodes
generate code within their budget and parse each payload once, a steady
cycle stays within its Spark-job budget, and a prefetch that goes unused
or a reorg repair releases everything it pinned."""

from __future__ import annotations

import json
import sys
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from ethereum_etl_spark.functions.hex import hex_to_dec38, word_to_dec38
from ethereum_etl_spark.schemas import BLOCK_EVOLUTION_COLUMNS
from ethereum_etl_spark.sources.decode import EntityDecoder, decode_entity, drop_null_keys
from ethereum_etl_spark.sources.wal import ChainWalSpec, WalTailer, generate_chain_wal
from ethereum_etl_spark.streaming import ChainStreamer, StreamerConfig

BASE = ("block", "transaction", "receipt", "log")


def _compiles(spark) -> int:
    """Generated classes compiled so far in this JVM (class-cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _codegen_chars(spark, df) -> int:
    """Characters of Java that whole-stage codegen generates for ``df``'s
    executed plan. A tail cycle regenerates this source for every plan it
    builds, also when the compiled class comes from the cache."""
    debug = getattr(spark._jvm.org.apache.spark.sql.execution.debug, "package")
    stages = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
    return sum(len(stages.apply(i)._2()) for i in range(stages.size()))


def _parquet_wal(spark, tmp_path, spec):
    path = str(tmp_path / "wal")
    generate_chain_wal(spark, spec).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_steady_tail_cycles_reuse_generated_classes(spark, tmp_path):
    """After warm-up, a base-entity tail cycle compiles only the classes
    whose code embeds its range literals: the two of the WAL's seq-range
    read. Everything else must come from the class cache."""
    wal = _parquet_wal(spark, tmp_path, ChainWalSpec(start_block=0, end_block=23))
    cfg = StreamerConfig(
        warehouse=str(tmp_path / "wh"), batch_size=2 * 16, partition_size=10,
        entity_types=BASE,
    )
    s = ChainStreamer(spark, cfg)
    tailer = WalTailer(wal, batch_size=cfg.batch_size)
    wm = s.watermarks.init_resume(0)
    # warm-up: first-use compiles (some plan shapes first appear only a
    # few cycles in)
    warm = 4
    for _ in range(warm):
        wm = s.sync_cycle(tailer, wm)
    c0 = _compiles(spark)
    steady = 5
    for _ in range(steady):
        wm = s.sync_cycle(tailer, wm)
    s._drop_prefetch()  # settle the in-flight prefetch before reading
    # each steady cycle reads one range, plus the range prefetched before
    # the window opened (read when the window starts, or already compiled)
    assert _compiles(spark) - c0 <= 2 * (steady + 1)
    recorded = [e["codegen_compiles"] for e in s.lineage.entries()]
    assert len(recorded) == warm + steady
    assert all(n >= 0 for n in recorded)
    assert sum(recorded[warm:]) <= 2 * (steady + 1)


def test_steady_cycle_job_budget(spark, tmp_path):
    """The Spark jobs of a steady reorg-free base-entity cycle, as lineage
    counts them: the prefetch of the next range (head probe, batch cache,
    stats pass), one write job per table merge and the exchanges of the two
    enrich joins. 12 here; 13 when the head probe ran an aggregate, 22 when
    each lake write shuffled, every decode was cached and the tx enrich
    deduped its inputs."""
    wal = _parquet_wal(spark, tmp_path, ChainWalSpec(start_block=0, end_block=23))
    cfg = StreamerConfig(
        warehouse=str(tmp_path / "wh"), batch_size=2 * 16, partition_size=10,
        entity_types=BASE,
    )
    s = ChainStreamer(spark, cfg)
    tailer = WalTailer(wal, batch_size=cfg.batch_size)
    wm = s.watermarks.init_resume(0)
    for _ in range(7):
        wm = s.sync_cycle(tailer, wm)
    s._drop_prefetch()
    jobs = [e["spark_jobs"] for e in s.lineage.entries()]
    # the first cycle reads its own range and the next one
    assert max(jobs[1:]) <= 14, jobs


def test_wal_head_probe_runs_one_job(spark, tmp_path):
    """Reading the WAL head, which every cycle does, is one Spark job; an
    empty WAL's head is 0."""
    wal = _parquet_wal(spark, tmp_path, ChainWalSpec(start_block=0, end_block=3))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    tailer = WalTailer(wal)
    j0 = dag.nextJobId()
    head = tailer.head(refresh=True)
    assert dag.nextJobId() - j0 == 1
    assert head == wal.agg(F.max("seq")).first()[0]
    assert WalTailer(wal.filter(F.col("seq") < 0)).head(refresh=True) == 0


def test_base_decodes_codegen_budget(spark, tmp_path):
    """The four base decodes, as the tail plans them, generate at most
    300,000 characters of Java. Each uint256 column decodes in stacked
    projections that Catalyst keeps apart; collapsed into one CASE tree per
    column (one copy of the digit expression per reference) they generated
    605,088."""
    wal = _parquet_wal(spark, tmp_path, ChainWalSpec(start_block=0, end_block=3))
    total = 0
    for e in BASE:
        decoded = EntityDecoder(e, ops=("upsert", "reorg"))(wal)
        total += _codegen_chars(spark, drop_null_keys(decoded, e))
    assert total <= 300_000, total


def test_hex_function_codegen_pins(spark):
    """The one-column hex decodes generate no more Java than the single
    CASE trees they replaced (105,659 and 24,171 characters)."""
    h = spark.createDataFrame([("0x10",)], "h string")
    assert _codegen_chars(spark, h.select(hex_to_dec38(F.col("h")))) <= 105_659
    assert _codegen_chars(spark, h.select(word_to_dec38(F.col("h")))) <= 24_171


def test_null_key_guard_parses_once(spark, tmp_path):
    """The null-key guard over an uncached decode parses each payload once:
    the optimizer cannot copy the JSON parse into the guard's filter."""
    wal = _parquet_wal(spark, tmp_path, ChainWalSpec(start_block=0, end_block=3))
    for e in BASE:
        guarded = drop_null_keys(EntityDecoder(e, ops=("upsert", "reorg"))(wal), e)
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert plan.count("from_json") == 1, (e, plan)


def test_decode_memo_caches_a_shared_decode_once(spark, tmp_path):
    """The decode memo hands every caller the same frame and caches a
    decode once, on its second request, also when many threads ask at
    once."""
    s = ChainStreamer(
        spark, StreamerConfig(warehouse=str(tmp_path / "wh"), entity_types=BASE)
    )
    batch = generate_chain_wal(spark, ChainWalSpec(start_block=0, end_block=3))
    get, cached = s._decode_batch(batch)
    first = get("log")
    assert cached == []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            views = list(ex.map(lambda _: get("log"), range(64), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert all(v is first for v in views)
    assert len(cached) == 1 and cached[0].is_cached
    cached[0].unpersist()


def _tx_event(seq, value, **extra):
    payload = {
        "hash": f"0xT{seq}", "nonce": 1, "block_hash": "0xb",
        "block_number": seq, "transaction_index": 0,
        "from_address": "0xAA", "to_address": "0xBB",
        "value": value, "gas": 21000, "gas_price": "0x5",
        "input": "0x", "block_timestamp": 1_600_000_000 + seq, **extra,
    }
    return (seq, seq, "0xb", "transaction", "upsert", json.dumps(payload))


def _same_rows(a, b):
    assert a.schema == b.schema
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_decoder_reused_across_batches_matches_fresh_decode(spark):
    """One decoder applied to two different batches yields exactly what a
    fresh decode_entity yields for each — plain, with evolved fields and
    with the uint256 sidecar."""
    wal = generate_chain_wal(
        spark, ChainWalSpec(start_block=0, end_block=9, evolve_at_block=5)
    ).cache()
    batches = [wal.filter(F.col("block_number") < 5), wal.filter(F.col("block_number") >= 5)]
    for entity, kw in (
        ("transaction", {}),
        ("log", {}),
        ("block", {"extra_fields": list(BLOCK_EVOLUTION_COLUMNS.fields)}),
    ):
        dec = EntityDecoder(entity, ops=("upsert", "reorg"), **kw)
        for b in batches:
            _same_rows(dec(b), decode_entity(b, entity, ops=("upsert", "reorg"), **kw))
    wal.unpersist()

    ddl = (
        "seq long, block_number long, block_hash string, entity_type string,"
        " op string, payload string"
    )
    big = hex(10**40)  # overflows Decimal(38,0): the sidecar keeps it
    b1 = spark.createDataFrame([_tx_event(1, "0x10"), _tx_event(2, big)], ddl)
    b2 = spark.createDataFrame([_tx_event(3, big), _tx_event(4, "0xff")], ddl)
    dec = EntityDecoder("transaction", uint256_sidecar=True)
    for b in (b1, b2):
        out = dec(b)
        _same_rows(out, decode_entity(b, "transaction", uint256_sidecar=True))
        assert out.filter(F.col("value_raw") == big).count() == 1
    # without seq the decode drops _ingest_seq, reusing the same decoder
    no_seq = b1.drop("seq")
    _same_rows(dec(no_seq), decode_entity(no_seq, "transaction", uint256_sidecar=True))
    assert "_ingest_seq" not in dec(no_seq).columns


def test_unused_prefetch_releases_its_checkpoints(spark, tmp_path):
    """A prefetch that is dropped or stale unpersists its batch AND the
    parsed/marked log checkpoints it built ahead, so the persisted RDD
    count stays flat across cycles on a DEX-bearing WAL."""
    wal = _parquet_wal(
        spark, tmp_path, ChainWalSpec(start_block=0, end_block=35, dex_pools=3)
    )
    cfg = StreamerConfig(
        warehouse=str(tmp_path / "wh"), batch_size=4 * 16, partition_size=16,
        entity_types=BASE + ("token", "dex_pool", "dex_trade"),
    )
    s = ChainStreamer(spark, cfg)
    # keep every pre-built checkpoint reachable, so one left persisted stays
    # in the count instead of waiting for the JVM to collect it
    prebuilt = []
    prebuild = s._prebuild_parsed

    def recording(batch, srows):
        out = prebuild(batch, srows)
        prebuilt.append(out)
        return out

    s._prebuild_parsed = recording
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    tailer = WalTailer(wal, batch_size=cfg.batch_size)
    counts = []
    for _ in range(5):
        s.run(tailer, max_cycles=1)  # drops the prefetch it started
        counts.append(persisted().size())
    # a stale prefetch: the catch-up jump reads to the head instead
    wm = s.watermarks.get()
    s.sync_cycle(tailer, wm)
    s.sync_cycle(tailer, s.watermarks.get(), allow_skip=True)
    s._drop_prefetch()
    counts.append(persisted().size())
    assert any(p is not None for p in prebuilt), "no prefetch built a parse"
    assert max(counts[1:]) <= counts[0], counts


def test_reorg_repair_releases_its_checkpoints(spark, tmp_path, monkeypatch):
    """The balance repair's affected-key checkpoints are released when the
    repair ends: the persisted RDD count stays flat over a WAL whose
    batches carry reorgs."""
    # keep every checkpoint reachable, so one left persisted stays in the
    # count instead of waiting for the JVM to collect it
    taken = []
    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint

    def recording(self, *a, **k):
        out = checkpoint(self, *a, **k)
        taken.append(out)
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    wal = _parquet_wal(
        spark, tmp_path,
        ChainWalSpec(start_block=0, end_block=31, reorg_blocks=(5, 13, 21), reorg_lag=4),
    )
    cfg = StreamerConfig(
        warehouse=str(tmp_path / "wh"), batch_size=4 * 16, partition_size=8,
        entity_types=BASE + ("token_transfer", "token_balance", "native_balance"),
    )
    s = ChainStreamer(spark, cfg)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    tailer = WalTailer(wal, batch_size=cfg.batch_size)
    counts = []
    for _ in range(8):
        s.run(tailer, max_cycles=1)
        counts.append(persisted().size())
    assert sum(bool(e.get("reorg")) for e in s.lineage.entries()) >= 2
    assert taken, "no repair took a checkpoint"
    assert max(counts[1:]) <= counts[0], counts


def test_reorg_batch_dedups_a_duplicated_transaction(spark, tmp_path):
    """A reorg batch that carries one transaction row twice commits the
    same tables as the batch without the copy: the tx enrich keeps its
    dedup for reorg batches, so the native balances debit the tx once."""
    spec = ChainWalSpec(start_block=0, end_block=19, reorg_blocks=(18, 19), reorg_lag=0)
    wal = _parquet_wal(spark, tmp_path, spec)
    dup = wal.filter(
        (F.col("entity_type") == "transaction") & (F.col("block_number") == 3)
    ).limit(1)
    assert dup.count() == 1
    tables = ("transactions", "native_balances", "native_balances_latest")
    got = {}
    for name, w in (("plain", wal), ("dup", wal.unionByName(dup))):
        cfg = StreamerConfig(
            warehouse=str(tmp_path / name), batch_size=1000, partition_size=10,
            entity_types=BASE + ("native_balance",),
        )
        s = ChainStreamer(spark, cfg)
        s.run(WalTailer(w, batch_size=1000))
        assert any(e.get("reorg") for e in s.lineage.entries())
        got[name] = {t: s.tables[t].read() for t in tables}
    for t in tables:
        _same_rows(got["dup"][t], got["plain"][t])
    txs = got["dup"]["transactions"]
    assert txs.count() == txs.select("hash").distinct().count()
