from __future__ import annotations

import os
import random

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ethereum_etl_spark.lake import LakeTable, WatermarkStore

SCHEMA = StructType(
    [
        StructField("number", LongType(), False),
        StructField("hash", StringType(), False),
        StructField("miner", StringType(), True),
    ]
)


def _mk(spark, tmp_path, name="t", psize=10):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        SCHEMA,
        key=["number"],
        prune_col="number",
        partition_size=psize,
    )


def test_create_read_empty(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.read().count() == 0
    assert t.current_version() == 0


def test_merge_upsert_last_write_wins(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b1 = spark.createDataFrame([(1, "0xa", "m1"), (2, "0xb", "m1")], SCHEMA)
    t.merge_upsert(b1, batch_id="b1")
    b2 = spark.createDataFrame([(2, "0xb2", "m2"), (3, "0xc", "m2")], SCHEMA)
    t.merge_upsert(b2, batch_id="b2")
    rows = {r["number"]: r["hash"] for r in t.read().collect()}
    assert rows == {1: "0xa", 2: "0xb2", 3: "0xc"}


def test_merge_idempotent_replay(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b1 = spark.createDataFrame([(1, "0xa", "m1")], SCHEMA)
    v1 = t.merge_upsert(b1, batch_id="b1")
    v2 = t.merge_upsert(b1, batch_id="b1")  # replay → no-op
    assert v1 == v2
    assert t.read().count() == 1


def test_merge_partition_pruning_untouched_files_kept(spark, tmp_path):
    t = _mk(spark, tmp_path, psize=10)
    b1 = spark.createDataFrame(
        [(i, f"0x{i}", "m") for i in range(25)], SCHEMA
    )
    t.merge_upsert(b1, batch_id="b1")
    m1 = t.manifest()
    files_pt0 = {f.path for f in m1.files if f.pt == 0}
    # batch touching only pt=2 (numbers 20-24)
    b2 = spark.createDataFrame([(22, "0xNEW", "m2")], SCHEMA)
    t.merge_upsert(b2, batch_id="b2")
    m2 = t.manifest()
    assert {f.path for f in m2.files if f.pt == 0} == files_pt0  # untouched
    assert t.read().filter("number = 22").first()["hash"] == "0xNEW"
    assert t.read().count() == 25


def test_reorg_delete_and_reinsert(spark, tmp_path):
    """Key-partitioned delete+upsert on (block_number, hash) — the reorg
    path (clickhouse_eth_streamer_adapter.py:839-890)."""
    t = _mk(spark, tmp_path)
    b1 = spark.createDataFrame(
        [(1, "0xa", "m"), (2, "0xb", "m"), (3, "0xc", "m")], SCHEMA
    )
    t.merge_upsert(b1, batch_id="b1")
    # reorg: blocks 2-3 replaced by new-hash versions; block 2 now has 2 rows
    new = spark.createDataFrame([(2, "0xb'", "m2"), (3, "0xc'", "m2")], SCHEMA)
    dels = spark.createDataFrame([(2,), (3,)], ["number"])
    t.merge_upsert(new, batch_id="reorg1", delete_keys=dels, delete_key_cols=["number"])
    rows = {r["number"]: r["hash"] for r in t.read().collect()}
    assert rows == {1: "0xa", 2: "0xb'", 3: "0xc'"}


def test_schema_evolution_additive(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(1, "0xa", "m")], SCHEMA), batch_id="b1")
    evolved = spark.createDataFrame(
        [(2, "0xb", "m", 7)],
        StructType(list(SCHEMA.fields) + [StructField("blob_gas_used", LongType(), True)]),
    )
    t.merge_upsert(evolved, batch_id="b2")
    df = t.read()
    assert "blob_gas_used" in df.columns
    got = {r["number"]: r["blob_gas_used"] for r in df.collect()}
    assert got == {1: None, 2: 7}  # old rows NULL-filled through evolved schema


def test_read_range_pruning(spark, tmp_path):
    t = _mk(spark, tmp_path, psize=10)
    t.merge_upsert(
        spark.createDataFrame([(i, f"0x{i}", "m") for i in range(40)], SCHEMA),
        batch_id="b1",
    )
    df = t.read(prune_min=15, prune_max=24)
    assert df.count() == 10
    # file-level pruning happened: scan reads at most the 2 overlapping pts
    m = t.manifest()
    overlapping = [f for f in m.files if f.max_prune >= 15 and f.min_prune <= 24]
    assert len(overlapping) < len(m.files)


def test_version_col_wins_within_batch(spark, tmp_path):
    t = _mk(spark, tmp_path)
    sch = StructType(list(SCHEMA.fields) + [StructField("seq", LongType(), True)])
    b = spark.createDataFrame([(1, "0xold", "m", 10), (1, "0xnew", "m", 20)], sch)
    t.merge_upsert(b, batch_id="b1", version_col="seq")
    assert t.read().first()["hash"] == "0xnew"


def test_append_and_gc(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([(1, "0xa", "m")], SCHEMA), batch_id="a1")
    t.append(spark.createDataFrame([(2, "0xb", "m")], SCHEMA), batch_id="a2")
    assert t.read().count() == 2
    t.merge_upsert(spark.createDataFrame([(1, "0xa2", "m")], SCHEMA), batch_id="b1")
    assert t.read().count() == 2
    # gc removed no longer referenced version dirs
    data_dirs = os.listdir(os.path.join(t.root, "data"))
    live = {os.path.relpath(f.path, "data").split(os.sep)[0] for f in t.manifest().files}
    assert set(data_dirs) >= live


def test_written_files_sorted_by_key(spark, tmp_path):
    """Every file a multi-partition merge writes holds its rows in key
    order: an append of shuffled rows, then an overlapping read-modify-
    write over the same partitions."""
    t = LakeTable.create(
        spark, str(tmp_path / "sorted"), SCHEMA, key=["number", "hash"],
        prune_col="number", partition_size=500,
    )
    rows = [(i, f"0x{i % 7}", "m") for i in range(2000)]
    random.Random(7).shuffle(rows)
    t.merge_upsert(
        spark.createDataFrame(rows, SCHEMA).repartition(4), batch_id="b1",
        touched_range=(0, 1999),
    )
    overlap = [(i, f"0x{i % 7}", "m2") for i in range(900, 1600)]
    random.Random(8).shuffle(overlap)
    t.merge_upsert(spark.createDataFrame(overlap, SCHEMA).repartition(4), batch_id="b2")
    files = t.manifest().files
    assert len({f.pt for f in files}) == 4
    for f in files:
        got = pq.read_table(os.path.join(t.root, f.path), columns=["number", "hash"])
        keys = list(zip(got["number"].to_pylist(), got["hash"].to_pylist()))
        assert keys == sorted(keys), f.path
    got = {r["number"]: r["miner"] for r in t.read().collect()}
    assert got == {i: "m2" if 900 <= i < 1600 else "m" for i in range(2000)}


def test_watermark_store(tmp_path):
    w = WatermarkStore(str(tmp_path / "wm.json"))
    assert w.get() == -1
    w.set(100)
    assert w.get() == 100
    assert w.init_resume(50) == 100  # resume from max(start-1, stored)
    assert w.init_resume(200) == 199
    w.set(7, partition="p2")
    assert w.get("p2") == 7
    assert w.get() == 100
