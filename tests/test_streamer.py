from __future__ import annotations

from pyspark.sql import functions as F

from ethereum_etl_spark.sources.wal import ChainWalSpec, WalTailer, generate_chain_wal, generate_repo_wal
from ethereum_etl_spark.streaming import ChainStreamer, StreamerConfig


def _wal(spark, tmp_path, **kw):
    spec = ChainWalSpec(start_block=0, end_block=19, txs_per_block=3, logs_per_tx=2, **kw)
    wal_path = str(tmp_path / "wal")
    generate_chain_wal(spark, spec).write.mode("overwrite").parquet(wal_path)
    return spec, spark.read.parquet(wal_path)


def test_end_to_end_replay(spark, tmp_path):
    spec, wal = _wal(spark, tmp_path)
    cfg = StreamerConfig(warehouse=str(tmp_path / "wh"), batch_size=70, partition_size=10)
    s = ChainStreamer(spark, cfg)
    wm = s.run(WalTailer(wal, batch_size=cfg.batch_size))
    assert wm == wal.agg(F.max("seq")).first()[0]

    blocks = s.tables["blocks"].read()
    txs = s.tables["transactions"].read()
    logs = s.tables["logs"].read()
    tts = s.tables["token_transfers"].read()
    assert blocks.count() == 20
    assert txs.count() == 20 * 3
    assert logs.count() == 20 * 3 * 2
    assert tts.count() == 20 * 3 * 2  # every synthetic log is an ERC20 transfer

    # enrichment happened: receipts fields on tx, block ts on logs
    row = txs.filter("block_number = 5 and transaction_index = 1").first()
    assert row["receipt_gas_used"] == 21000
    assert row["item_id"] == f"transaction_{row['hash']}"
    lrow = logs.first()
    assert lrow["block_timestamp"] is not None

    # transfers decoded: value matches the encoded word
    t = tts.filter("block_number = 3 and log_index = 0").first()
    assert t["token_standard"] == "ERC-20"
    assert t["value"] is not None and t["value"] > 0
    assert t["from_address"].startswith("0x") and len(t["from_address"]) == 42


def test_resume_from_checkpoint(spark, tmp_path):
    spec, wal = _wal(spark, tmp_path)
    cfg = StreamerConfig(warehouse=str(tmp_path / "wh"), batch_size=50, partition_size=10)
    s = ChainStreamer(spark, cfg)
    # run only 2 cycles, then "crash"
    s.run(WalTailer(wal, batch_size=50), max_cycles=2)
    partial = s.tables["blocks"].read().count()
    assert 0 < partial < 20

    # new streamer instance resumes from stored watermark
    s2 = ChainStreamer(spark, cfg)
    s2.run(WalTailer(wal, batch_size=50))
    assert s2.tables["blocks"].read().count() == 20
    # lineage recorded every batch
    assert len(s2.lineage.entries()) >= 2
    # etl_delay metrics rows (A5, reference etl_delay MVs schema.sql:769-799):
    # per entity per cycle — delay = indexed_at − ts of the entity's highest
    # merged block
    # a batch with no block rows (tail ranges can be single-entity) emits no
    # delay rows — like the reference MVs, which only fire on new rows
    populated = [
        e["etl_delay"]
        for e in s2.lineage.entries()
        if e.get("etl_delay")
    ]
    assert populated, "no batch recorded etl_delay rows"
    seen = set()
    for d in populated:
        for ent, row in d.items():
            assert row["block_number"] >= 0
            if row["timestamp"] is None:
                # entity's highest block not in this batch's block rows
                # (e.g. dimension entities stamped at early blocks)
                continue
            seen.add(ent)
            assert abs(
                row["delay_s"] - (row["indexed_at"] - row["timestamp"])
            ) < 0.002
    assert {"block", "transaction", "receipt", "log"} <= seen, seen


def test_reorg_replaces_block_state(spark, tmp_path):
    spec, wal = _wal(spark, tmp_path, reorg_blocks=(7, 8))
    cfg = StreamerConfig(warehouse=str(tmp_path / "wh"), batch_size=1000, partition_size=10)
    s = ChainStreamer(spark, cfg)
    s.run(WalTailer(wal, batch_size=1000))

    blocks = s.tables["blocks"].read()
    assert blocks.count() == 20  # no duplicate block 7/8
    forked = {r["number"]: r["hash"] for r in blocks.filter("number in (7,8)").collect()}
    # fork hashes differ from the original chain's
    orig = {
        r["block_number"]: r["block_hash"]
        for r in wal.filter("op = 'upsert' and entity_type='block' and block_number in (7,8)").collect()
    }
    assert forked[7] != orig[7] and forked[8] != orig[8]

    # children replaced too: tx rows for block 7 all carry the fork hash
    txs7 = s.tables["transactions"].read().filter("block_number = 7")
    assert txs7.count() == 3
    assert {r["block_hash"] for r in txs7.collect()} == {forked[7]}


def test_etl_delay_reorg_batch_reads_winning_block(spark, tmp_path):
    """etl_delay in a batch that reorgs its own last blocks: each entity's
    row names its highest block, and the timestamp is the one of the block
    row that won (the fork's, committed to the blocks table), not the
    orphan's."""
    fork_ts = 1_700_000_000
    spec, wal = _wal(spark, tmp_path, reorg_blocks=(18, 19), reorg_lag=0)
    # give the fork's block rows a timestamp of their own, so the delay row
    # shows which of the two block rows it read
    wal = wal.withColumn(
        "payload",
        F.when(
            (F.col("op") == "reorg") & (F.col("entity_type") == "block"),
            F.regexp_replace("payload", '"timestamp":[0-9]+', f'"timestamp":{fork_ts}'),
        ).otherwise(F.col("payload")),
    )
    cfg = StreamerConfig(warehouse=str(tmp_path / "wh"), batch_size=1000, partition_size=10)
    s = ChainStreamer(spark, cfg)
    s.run(WalTailer(wal, batch_size=1000))

    ts = {r["number"]: r["timestamp"] for r in s.tables["blocks"].read().collect()}
    assert ts[19] == fork_ts
    his = {
        r["entity_type"]: r["hi"]
        for r in wal.groupBy("entity_type").agg(F.max("block_number").alias("hi")).collect()
    }
    (entry,) = [e for e in s.lineage.entries() if e.get("etl_delay")]
    assert entry["reorg"]
    delay = entry["etl_delay"]
    assert set(delay) == set(his)
    for ent, row in delay.items():
        assert row["block_number"] == his[ent], ent
        # an entity whose highest block has no block row gets no timestamp
        assert row["timestamp"] == ts.get(row["block_number"]), ent
        if row["timestamp"] is None:
            assert row["delay_s"] is None
            continue
        assert abs(row["delay_s"] - (row["indexed_at"] - row["timestamp"])) < 0.002
    assert delay["block"]["timestamp"] == fork_ts


def test_repo_file_wal_generic_cdc(spark, tmp_path):
    """north_rule shape: (repo, path, commit, lang, content) replay →
    latest-file table keyed (repo, path)."""
    from ethereum_etl_spark.lake import LakeTable
    from ethereum_etl_spark.schemas import REPO_FILE_SCHEMA
    from pyspark.sql.types import LongType, StructField, StructType

    wal = generate_repo_wal(spark, n_commits=10, files_per_commit=20, n_repos=5)
    schema = StructType([StructField("seq", LongType(), False)] + list(REPO_FILE_SCHEMA.fields))
    t = LakeTable.create(
        spark, str(tmp_path / "files"), schema,
        key=["repo", "path"], prune_col="seq", partition_size=100,
    )
    t.merge_upsert(wal.select(*schema.fieldNames()), batch_id="all", version_col="seq")
    latest = t.read()
    # one row per (repo, path)
    assert latest.count() == latest.select("repo", "path").distinct().count()
    # a rewritten path holds its newest revision
    reworked = wal.groupBy("repo", "path").agg(
        F.max("seq").alias("seq"), F.count("*").alias("n")
    ).filter("n > 1").first()
    if reworked:
        got = latest.filter(
            (F.col("repo") == reworked["repo"]) & (F.col("path") == reworked["path"])
        ).first()
        want = wal.filter(
            (F.col("repo") == reworked["repo"])
            & (F.col("path") == reworked["path"])
            & (F.col("seq") == reworked["seq"])
        ).first()
        assert got["content"] == want["content"]


def test_staged_batch_spill_equivalent(spark, tmp_path):
    """stage_min_blocks=1 forces the entity-partitioned parquet spill path
    (the large-batch shape): final state must match the in-heap cache path
    exactly — including reorg delete+reinsert — and the spill dirs must be
    gone once the run finishes."""
    import os

    spec, wal = _wal(spark, tmp_path, reorg_blocks=(7, 8))
    out = {}
    for tag, stage_min in (("cached", 10**9), ("staged", 1)):
        cfg = StreamerConfig(
            warehouse=str(tmp_path / f"wh_{tag}"), batch_size=70,
            partition_size=10, stage_min_blocks=stage_min,
        )
        s = ChainStreamer(spark, cfg)
        s.run(WalTailer(wal, batch_size=cfg.batch_size))
        out[tag] = s

    for name in ("blocks", "transactions", "logs", "token_transfers"):
        a = out["cached"].tables[name].read()
        b = out["staged"].tables[name].read()
        assert a.count() == b.count(), name
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), name

    staging_root = str(tmp_path / "wh_staged" / "_staging")
    assert not os.path.isdir(staging_root) or os.listdir(staging_root) == []
