"""Balance derivation: token balances from transfer deltas, native balances
from value flows (S8/S10 re-thought for an engine with no RPC).

The reference point-reads balanceOf/eth_getBalance per touched (token,
holder, block) (/root/reference/ethereumetl/jobs/export_token_balances_job.py:52-96,
export_native_balances_job.py:53-79). A lake engine derives the same table
incrementally: each transfer contributes −value to the sender and +value to
the receiver (mint/burn legs on the NULL-address set are skipped, the P18
classification of misc/info.py:5-31), a per-key running sum over block order
gives the balance at every touched block, and a carry-in from the previous
micro-batch's latest-balance table makes it exact across batches.

Scale shape: one groupBy (token, holder, token_id, block) with map-side
partial agg, one window cumsum partitioned by the same holder key (hot
tokens are fine — the window key includes holder, so a hot token fans out
across holders), one broadcast-ish join against the latest-balance carry-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# canonical burn/mint sink addresses — the FULL reference set
# (/root/reference/ethereumetl/misc/info.py:5-31: precompiles 0x1-0x9, dead/
# vanity burn sinks, repeated-digit throwaways) plus the legacy
# 0xdead…0000 alias kept from r1 (transfers to any of these must not create
# a balance leg); membership test is a broadcast literal
NULL_ADDRESSES = [
    *[f"0x{i:040x}" for i in range(10)],  # 0x0 + precompiles 0x1-0x9
    "0x000000000000000000000000000000000000dead",
    "0x1111111111111111111111111111111111111111",
    "0x2222222222222222222222222222222222222222",
    "0x3333333333333333333333333333333333333333",
    "0x4444444444444444444444444444444444444444",
    "0x6666666666666666666666666666666666666666",
    "0x8888888888888888888888888888888888888888",
    "0x1234567890123456789012345678901234567890",
    "0xdead000000000000000042069420694206942069",
    "0x0123456789012345678901234567890123456789",
    "0x00000000000000000000045261d4ee77acdb3286",
    "0xaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
    "0xbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbb",
    "0xeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeee",
    "0xffffffffffffffffffffffffffffffffffffffff",
    "0xdead000000000000000000000000000000000000",
]

def _TID():
    return F.coalesce(F.col("token_id"), F.lit(-1).cast("decimal(38,0)"))


def token_balance_deltas(transfers: DataFrame) -> DataFrame:
    """Per-transfer ±value legs, mint/burn (NULL-address) legs dropped."""
    base = transfers.select(
        "token_address", "token_standard", "from_address", "to_address",
        "value", "block_number", "token_id",
    )
    legs = base.select(
        "token_address",
        "token_standard",
        "block_number",
        "token_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("from_address").alias("holder_address"),
                    (-F.col("value")).alias("delta"),
                ),
                F.struct(
                    F.col("to_address").alias("holder_address"),
                    F.col("value").alias("delta"),
                ),
            )
        ).alias("leg"),
    ).select(
        "token_address", "token_standard", "block_number", "token_id",
        F.col("leg.holder_address").alias("holder_address"),
        F.col("leg.delta").alias("delta"),
    )
    return legs.filter(
        F.col("holder_address").isNotNull()
        & ~F.col("holder_address").isin(NULL_ADDRESSES)
    )


def token_balances_from_transfers(
    transfers: DataFrame,
    carry_in: DataFrame | None = None,
    key_filter: DataFrame | None = None,
) -> DataFrame:
    """(token, holder, token_id, block) → running balance.

    ``carry_in``: latest balances from prior batches with columns
    (token_address, holder_address, token_id, value).
    ``key_filter``: optional (token_address, holder_address, token_id) set —
    restrict the computation to those keys (null-safe on token_id); the
    reorg repair path passes the affected keys so the recompute is
    proportional to the reorg, not the block range."""
    d = token_balance_deltas(transfers)
    if key_filter is not None:
        kf = F.broadcast(
            key_filter.select(
                F.col("token_address").alias("__kt"),
                F.col("holder_address").alias("__kh"),
                F.coalesce(F.col("token_id"), F.lit(-1).cast("decimal(38,0)")).alias("__ki"),
            ).distinct()
        )
        d = d.join(
            kf,
            on=(
                (d["token_address"] == F.col("__kt"))
                & (d["holder_address"] == F.col("__kh"))
                & (_TID() == F.col("__ki"))
            ),
            how="left_semi",
        )
    per_block = d.groupBy(
        "token_address", "holder_address", "token_id", "block_number"
    ).agg(
        F.sum("delta").alias("block_delta"),
        F.max("token_standard").alias("token_standard"),
    )
    w = (
        Window.partitionBy("token_address", "holder_address", _TID())
        .orderBy("block_number")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_block.withColumn("value", F.sum("block_delta").over(w))
    if carry_in is not None:
        c = carry_in.select(
            "token_address",
            "holder_address",
            _TID().alias("__tid"),
            F.col("value").alias("__base"),
        )
        cum = (
            cum.withColumn("__tid", _TID())
            .join(c, on=["token_address", "holder_address", "__tid"], how="left")
            .withColumn(
                "value", F.col("value") + F.coalesce(F.col("__base"), F.lit(0))
            )
            .drop("__tid", "__base")
        )
    return cum.select(
        "token_address", "holder_address", "block_number", "token_id",
        F.col("value").cast("decimal(38,0)").alias("value"),
        "token_standard",
    )


def latest_token_balances(balances: DataFrame) -> DataFrame:
    """Latest balance per (token, holder, token_id) — max_by block."""
    order = F.col("block_number")
    return balances.groupBy("token_address", "holder_address", _TID().alias("__tid")).agg(
        F.max_by("value", order).alias("value"),
        F.max("block_number").alias("block_number"),
        F.max_by("token_id", order).alias("token_id"),
        F.max_by("token_standard", order).alias("token_standard"),
    ).drop("__tid")


def latest_native_balances(balances: DataFrame) -> DataFrame:
    """Latest native balance per address — max_by block."""
    return balances.groupBy("address").agg(
        F.max_by("value", F.col("block_number")).alias("value"),
        F.max("block_number").alias("block_number"),
    ).select("block_number", "address", "value")


def native_balances_from_transactions(
    transactions: DataFrame,
    internal_transfers: DataFrame | None = None,
    carry_in: DataFrame | None = None,
    key_filter: DataFrame | None = None,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """(address, block) → running native balance from tx value flows (+
    internal transfers when available).

    Gas accounting (VERDICT r3 item 7): when ``transactions`` carries the
    receipt join (receipt_gas_used, receipt_effective_gas_price — the
    streamer's enriched tx shape), each tx ALSO debits
    fee = gas_used × effective_gas_price from the sender. When ``blocks``
    (number, miner[, base_fee_per_gas]) is given, the miner is credited the
    tip, fee − gas_used × base_fee (EIP-1559: the base-fee portion is
    burned), or the full fee when base_fee is NULL (pre-1559 blocks).
    Block issuance rewards remain out of scope — they are not derivable
    from the WAL (the residual divergence vs eth_getBalance absolute
    reads). try_multiply keeps crafted uint256 gas prices from throwing
    under ANSI — an overflowing fee row is dropped, not a poison pill."""
    flows = transactions.select(
        "block_number",
        F.col("from_address").alias("from_a"),
        F.col("to_address").alias("to_a"),
        F.col("value"),
    )
    if internal_transfers is not None:
        flows = flows.unionByName(
            internal_transfers.select(
                "block_number",
                F.col("from_address").alias("from_a"),
                F.col("to_address").alias("to_a"),
                F.col("value"),
            )
        )
    legs = flows.select(
        "block_number",
        F.explode(
            F.array(
                F.struct(F.col("from_a").alias("address"), (-F.col("value")).alias("delta")),
                F.struct(F.col("to_a").alias("address"), F.col("value").alias("delta")),
            )
        ).alias("leg"),
    ).select("block_number", F.col("leg.address").alias("address"), F.col("leg.delta").alias("delta"))
    has_fees = {"receipt_gas_used", "receipt_effective_gas_price"} <= set(
        transactions.columns
    )
    if has_fees:
        gas = F.col("receipt_gas_used").cast("decimal(38,0)")
        fee = F.try_multiply(gas, F.col("receipt_effective_gas_price"))
        fee_legs = (
            transactions.withColumn("__fee", fee)
            .filter(F.col("__fee").isNotNull() & (F.col("__fee") != 0))
            .select(
                "block_number",
                F.col("from_address").alias("address"),
                (-F.col("__fee")).alias("delta"),
            )
        )
        legs = legs.unionByName(fee_legs)
        if blocks is not None:
            bcols = ["number", "miner"] + (
                ["base_fee_per_gas"] if "base_fee_per_gas" in blocks.columns else []
            )
            b = blocks.select(*bcols).withColumnRenamed("number", "block_number")
            if "base_fee_per_gas" not in b.columns:
                b = b.withColumn("base_fee_per_gas", F.lit(None).cast("long"))
            tip = F.try_subtract(
                fee,
                F.try_multiply(
                    gas, F.coalesce(F.col("base_fee_per_gas").cast("decimal(38,0)"), F.lit(0))
                ),
            )
            miner_legs = (
                transactions.join(F.broadcast(b), on="block_number", how="inner")
                .withColumn("__tip", tip)
                .filter(
                    F.col("miner").isNotNull()
                    & F.col("__tip").isNotNull()
                    & (F.col("__tip") > 0)
                )
                .select(
                    "block_number",
                    F.col("miner").alias("address"),
                    F.col("__tip").alias("delta"),
                )
            )
            legs = legs.unionByName(miner_legs)
    legs = legs.filter(
        F.col("address").isNotNull() & ~F.col("address").isin(NULL_ADDRESSES)
    )
    if key_filter is not None:
        legs = legs.join(
            F.broadcast(key_filter.select("address").distinct()),
            on="address",
            how="left_semi",
        )
    per_block = legs.groupBy("address", "block_number").agg(F.sum("delta").alias("block_delta"))
    w = (
        Window.partitionBy("address")
        .orderBy("block_number")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_block.withColumn("value", F.sum("block_delta").over(w))
    if carry_in is not None:
        c = carry_in.select("address", F.col("value").alias("__base"))
        cum = cum.join(c, on="address", how="left").withColumn(
            "value", F.col("value") + F.coalesce("__base", F.lit(0))
        ).drop("__base")
    return cum.select(
        "block_number", "address", F.col("value").cast("decimal(38,0)").alias("value")
    )
