"""USD/stable pricing of DEX trades — the PriceService analog (J7 gap).

The reference resolves per-trade USD prices with a STATEFUL sequential
service: it walks trades in stream order, anchors prices at stablecoin pools
(price_stable of the paired token = the pool's price ratio × 1.0), and
carries a mutable per-token last-price map forward
(/root/reference/ethereumetl/service/price_service.py:44-64,145-160; wired
in jobs/enrich_dex_trades_job.py:29-43).

The Spark-first rendering replaces the mutable map with AS-OF PRICE MARKS —
the same information, made deterministic and replay-safe:

1. mark extraction: every trade with a stablecoin on one side emits a price
   mark for the OTHER token: (token, block, log_index, pool price ratio in
   stable units). Stablecoins are their own mark at 1.0.
2. as-of enrichment: each trade side takes the latest mark ≤ its own
   (block, log_index) — one window keyed by token (the union trick: marks
   and probes share a sort), never a range-join explosion.
3. amount_stable = |amount[base]| × price_stable[base], base = the
   stablecoin side when present, else the side with a resolved mark —
   price_service.py:35-41 semantics without the order-dependent drift.

Documented divergence: the reference's _update_base_prices mutates its map
with every GENERIC trade too (prices inferred from other prices), so its
output depends on worker scheduling order; the mark-based rendering only
trusts stablecoin-anchored observations, which is the subset that is
deterministic under replay and reorder — the correctness property a
10^10-event replayed lake must have.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from ethereum_etl_spark.operators.asof import bucketed_asof as _bucketed_asof


def stable_price_marks(trades: DataFrame, stablecoins: list[str]) -> DataFrame:
    """Per-token stable-price observations from stablecoin-paired trades.

    Output: (token_address, block_number, log_index, price_stable)."""
    sc = [s.lower() for s in stablecoins]
    t0 = F.element_at("token_addresses", 1)
    t1 = F.element_at("token_addresses", 2)
    p0 = F.element_at("token_prices", 1)
    p1 = F.element_at("token_prices", 2)
    base = trades.select(
        "block_number", "log_index",
        t0.alias("t0"), t1.alias("t1"), p0.alias("p0"), p1.alias("p1"),
    )
    # price0 is token0 quoted in token1 units: token1 stable → that IS the
    # stable price of token0 (and symmetrically)
    m0 = base.filter(F.col("t1").isin(sc) & (F.col("p0") > 0)).select(
        F.col("t0").alias("token_address"), "block_number", "log_index",
        F.col("p0").alias("price_stable"),
    )
    m1 = base.filter(F.col("t0").isin(sc) & (F.col("p1") > 0)).select(
        F.col("t1").alias("token_address"), "block_number", "log_index",
        F.col("p1").alias("price_stable"),
    )
    return m0.unionByName(m1)


def latest_price_marks(marks: DataFrame) -> DataFrame:
    """Latest mark per token — max_by (block_number, log_index). Output:
    (token_address, block_number, log_index, price_stable), the shape of
    the price_marks_latest head."""
    return (
        marks.groupBy("token_address")
        .agg(
            F.max_by(
                F.struct("block_number", "log_index", "price_stable"),
                F.struct("block_number", "log_index"),
            ).alias("__m")
        )
        .select(
            "token_address", "__m.block_number", "__m.log_index", "__m.price_stable",
        )
    )


def enrich_trades_usd(
    trades: DataFrame,
    stablecoins: list[str],
    marks: DataFrame | None = None,
    block_bucket: int = 10_000,
) -> DataFrame:
    """Adds prices_stable (per side) and amount_stable to 2-token trades.

    ``marks`` defaults to marks derived from ``trades`` itself (the
    streaming case passes the accumulated marks table instead)."""
    sc = [s.lower() for s in stablecoins]
    if marks is None:
        marks = stable_price_marks(trades, stablecoins)

    key = ["transaction_hash", "log_index", "pool_address"]
    sides = trades.select(
        *key, "block_number",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("slot"),
                    F.element_at("token_addresses", 1).alias("token_address"),
                ),
                F.struct(
                    F.lit(1).alias("slot"),
                    F.element_at("token_addresses", 2).alias("token_address"),
                ),
            )
        ).alias("s"),
    ).select(*key, "block_number", F.col("s.slot").alias("slot"),
             F.col("s.token_address").alias("token_address"))

    mk = marks.select(
        "token_address", "block_number", "log_index",
        F.col("price_stable").alias("__mark"),
    ).withColumn("__probe", F.lit(0))
    pr = sides.withColumn("__probe", F.lit(1)).withColumn(
        "__mark", F.lit(None).cast("double")
    )
    cols = ["token_address", "block_number", "log_index", "__mark", "__probe"]
    # probes carry a row id through the shared window so the pivot below can
    # reattach the as-of price to its trade side
    pr_tagged = pr.withColumn(
        "__pid",
        F.concat_ws("|", *key, F.col("slot").cast("string")),
    )
    asof = _bucketed_asof(
        mk.select(*cols).withColumn("__pid", F.lit(None).cast("string")),
        pr_tagged.select(*cols, "__pid"),
        "token_address",
        block_bucket,
    ).withColumn(
        "price_stable",
        F.when(F.col("token_address").isin(sc), F.lit(1.0)).otherwise(
            F.coalesce("__asof", F.lit(0.0))
        ),
    )
    resolved = pr_tagged.select("__pid", *key, "slot").join(
        asof.select("__pid", "price_stable"), on="__pid"
    )
    flat = resolved.groupBy(*key).pivot("slot", [0, 1]).agg(F.first("price_stable"))
    out = trades.join(flat, on=key, how="left").withColumn(
        "prices_stable",
        F.array(F.coalesce(F.col("0"), F.lit(0.0)), F.coalesce(F.col("1"), F.lit(0.0))),
    ).drop("0", "1")
    t0_stable = F.element_at("token_addresses", 1).isin(sc)
    t1_stable = F.element_at("token_addresses", 2).isin(sc)
    ps0 = F.element_at("prices_stable", 1)
    ps1 = F.element_at("prices_stable", 2)
    a0 = F.abs(F.element_at("token_amounts", 1))
    a1 = F.abs(F.element_at("token_amounts", 2))
    base_is_0 = F.when(t0_stable, F.lit(True)).when(t1_stable, F.lit(False)).otherwise(
        ps0 > 0
    )
    return out.withColumn(
        "amount_stable",
        F.when(base_is_0, a0 * ps0).otherwise(a1 * ps1),
    )


def attach_stable_price(
    df: DataFrame,
    marks: DataFrame,
    stablecoins: list[str],
    token_col: str = "token_address",
    block_bucket: int = 10_000,
) -> DataFrame:
    """Generic as-of price attach: every row of ``df`` (needs token_col,
    block_number, log_index) gains ``price_stable`` = the latest mark for
    its token at or before its own (block_number, log_index); stablecoins
    are 1.0.

    One window keyed by (token, block-bucket) — see _bucketed_asof for the
    hot-token skew rationale. Probe rows carry ALL of df's columns straight
    through the union — no join-back, so rows need no unique key and
    nothing can fan out."""
    sc = [s.lower() for s in stablecoins]
    payload = [c for c in df.columns if c not in ("block_number", "log_index")]
    mk = marks.select(
        F.col("token_address").alias("__tok"),
        "block_number",
        "log_index",
        F.col("price_stable").alias("__mark"),
        F.lit(0).alias("__probe"),
        *[F.lit(None).cast(df.schema[c].dataType).alias(c) for c in payload],
    )
    pr = df.select(
        F.col(token_col).alias("__tok"),
        "block_number",
        "log_index",
        F.lit(None).cast("double").alias("__mark"),
        F.lit(1).alias("__probe"),
        *payload,
    )
    return (
        _bucketed_asof(mk, pr, "__tok", block_bucket)
        .withColumn(
            "price_stable",
            F.when(F.col("__tok").isin(sc), F.lit(1.0)).otherwise(
                F.coalesce("__asof", F.lit(0.0))
            ),
        )
        .select(*df.columns, "price_stable")
    )


def priced_internal_transfers(
    internal_transfers: DataFrame,
    marks: DataFrame,
    stablecoins: list[str],
    native_token_address: str,
    native_decimals: int = 18,
) -> DataFrame:
    """extract_internal_transfers_priced analog
    (jobs/extract_internal_transfers_priced.py:53-96): internal transfers
    move the NATIVE asset, priced at the wrapped-native token's stable
    price. The reference reads its own 600s candles at floored timestamps;
    the lake rendering takes the as-of mark at the transfer's block —
    end-of-block semantics (probes sort after any same-block mark).
    Zero-value transfers are skipped (:66-67)."""
    t = (
        internal_transfers.filter(F.col("value") != 0)
        .withColumn("token_address", F.lit(native_token_address.lower()))
        # internal transfers carry no log_index: price at END of block so
        # marks from the same block apply (max-int sorts after every mark)
        .withColumn("log_index", F.lit(2**30).cast("int"))
    )
    priced = attach_stable_price(t, marks, stablecoins)
    return (
        priced.withColumn(
            "amount",
            F.col("value").cast("double") / F.pow(F.lit(10.0), F.lit(native_decimals)),
        )
        .withColumn("value_stable", F.col("amount") * F.col("price_stable"))
        .drop("log_index")
    )


def priced_token_transfers(
    transfers: DataFrame,
    tokens: DataFrame,
    marks: DataFrame,
    stablecoins: list[str],
) -> DataFrame:
    """extract_token_transfers_priced analog (jobs/
    extract_token_transfers_priced.py): each transfer gains the as-of stable
    price of its token and value_stable = amount × price, with the
    reference mapper's exact scaling rules (mappers/
    transfer_priced_mapper.py:14-16 + the job's decimals lookup :64):
    ERC-20 amount = value / 10^decimals with decimals defaulting to 0 for
    unknown tokens; NFT standards (ERC-721/1155) count amount = 1 per
    transfer row regardless of value — golden-pinned by
    test_reference_golden_parity."""
    dec = F.broadcast(
        tokens.select(F.col("address").alias("token_address"), "decimals")
    )
    t = transfers.join(dec, on="token_address", how="left").withColumn(
        "__scale", F.pow(F.lit(10.0), F.coalesce("decimals", F.lit(0)))
    )
    priced = attach_stable_price(t, marks, stablecoins)
    scaled = F.col("value").cast("double") / F.col("__scale")
    amount = (
        F.when(F.col("token_standard") != "ERC-20", F.lit(1.0)).otherwise(scaled)
        if "token_standard" in transfers.columns
        else scaled
    )
    return priced.withColumn("amount", amount).withColumn(
        "value_stable", F.col("amount") * F.col("price_stable")
    ).drop("__scale")
