"""Enrichment joins — child entities pick up parent attributes.

Re-expression of /root/reference/ethereumetl/streaming/enrich.py:37-407:
the reference builds Python hash maps per batch (J1, enrich.py:37-68); here
each is a DataFrame equi-join. The blocks side of a micro-batch is tiny
relative to its children, so it is explicitly broadcast (the planner would
usually pick this anyway; the hint makes the 1000-executor plan deterministic
— no shuffle of the fat child table on block_number).

Strict-count semantics: the reference asserts len(result)==len(input) after
each enrich (enrich.py:109-117, 227-229). We keep that as an optional check
(`strict=`) because a driver-side count() per batch is an extra job; the
MERGE key dedup downstream already guarantees no duplication on the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class EnrichmentCountMismatch(AssertionError):
    pass


def _check(out: DataFrame, inp: DataFrame, strict: bool, what: str) -> DataFrame:
    if strict:
        o, i = out.count(), inp.count()
        if o != i:
            raise EnrichmentCountMismatch(f"{what}: {o} != {i}")
    return out


def enrich_transactions(
    transactions: DataFrame,
    receipts: DataFrame,
    strict: bool = False,
    dedup: bool = True,
) -> DataFrame:
    """J2 (enrich.py:71-117): tx × receipt 1:1 on hash, receipt fields
    prefixed receipt_.

    With ``dedup`` (the default) both inputs are deduped on their key first
    (utils.py:165-173): a batch carrying a reorg, or rows re-sent for a
    forced block repair, can hold two rows per hash, and the 1:1 join would
    multiply them. The streamer passes ``dedup=False`` for a reorg-free
    batch of a seq-unique WAL, which holds one row per hash by
    construction; the two dedup shuffles would then be no-ops."""
    t = transactions.dropDuplicates(["hash"]) if dedup else transactions
    r = receipts.dropDuplicates(["transaction_hash"]) if dedup else receipts
    r = r.select(
        F.col("transaction_hash"),
        F.col("cumulative_gas_used").alias("receipt_cumulative_gas_used"),
        F.col("gas_used").alias("receipt_gas_used"),
        F.col("contract_address").alias("receipt_contract_address"),
        F.col("root").alias("receipt_root"),
        F.col("status").alias("receipt_status"),
        F.col("effective_gas_price").alias("receipt_effective_gas_price"),
        F.col("logs_count").alias("receipt_logs_count"),
    )
    out = t.join(r, t["hash"] == r["transaction_hash"], "inner").drop("transaction_hash")
    return _check(out, t, strict, "enrich_transactions")


def enrich_with_blocks(child: DataFrame, blocks: DataFrame, strict: bool = False) -> DataFrame:
    """J3 (enrich.py:120-407 family): child × blocks on block_number →
    (block_timestamp, block_hash). Blocks side broadcast (micro-batch dim)."""
    b = F.broadcast(
        blocks.select(
            F.col("number").alias("block_number"),
            F.col("timestamp").alias("__blk_ts"),
            F.col("hash").alias("__blk_hash"),
        )
    )
    joined = child.join(b, on="block_number", how="inner")
    for tmp, dst in [("__blk_hash", "block_hash"), ("__blk_ts", "block_timestamp")]:
        if dst in child.columns:  # child already carried it; keep child's value
            joined = joined.drop(tmp)
        else:
            joined = joined.withColumnRenamed(tmp, dst)
    return _check(joined, child, strict, "enrich_with_blocks")


def enrich_with_transactions(child: DataFrame, transactions: DataFrame, strict: bool = False) -> DataFrame:
    """J4 (enrich.py:233-271): geth_traces/internal_transfers × transactions
    on transaction_hash → (block_number, block_timestamp, block_hash)."""
    t = transactions.select(
        F.col("hash").alias("transaction_hash"),
        F.col("block_number").alias("__bn"),
        F.col("block_timestamp").alias("__bt"),
        F.col("block_hash").alias("__bh"),
    ).dropDuplicates(["transaction_hash"])
    out = child.join(t, on="transaction_hash", how="inner")
    for src, dst in [("__bn", "block_number"), ("__bt", "block_timestamp"), ("__bh", "block_hash")]:
        out = out.drop(dst).withColumnRenamed(src, dst) if dst in child.columns else out.withColumnRenamed(src, dst)
    return _check(out, child, strict, "enrich_with_transactions")


def consistency_anti_join(blocks: DataFrame, transactions: DataFrame) -> DataFrame:
    """J8 (/root/reference/scripts/check_data_consistency.py:32-104): blocks
    whose declared transaction_count ≠ actual tx rows — LEFT JOIN + HAVING."""
    tx_counts = transactions.groupBy("block_number").agg(
        F.count(F.lit(1)).alias("actual_tx_count")
    )
    return (
        blocks.select(F.col("number").alias("block_number"), "transaction_count")
        .join(tx_counts, on="block_number", how="left")
        .withColumn("actual_tx_count", F.coalesce("actual_tx_count", F.lit(0)))
        .filter(F.col("transaction_count") != F.col("actual_tx_count"))
    )


def missing_keys_anti_join(wanted: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """J9/U2 (clickhouse_eth_streamer_adapter.py:372-392,611-632): keys we
    need that the dimension table doesn't have yet — left_anti."""
    return wanted.select(key).distinct().join(
        existing.select(key).distinct(), on=key, how="left_anti"
    )
