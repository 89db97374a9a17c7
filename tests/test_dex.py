from __future__ import annotations

from pyspark.sql import functions as F

from ethereum_etl_spark.operators.dex import (
    POOL_DDL,
    TOKEN_DIM_DDL,
    UNISWAP_V2_ABIS,
    enrich_dex_trades,
    latest_price_per_token,
    liquidity_merge,
)
from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs
from ethereum_etl_spark.schemas import LOG_SCHEMA

POOL = "0x" + "p".replace("p", "1") * 40  # 0x111...
T0 = "0x" + "2" * 40
T1 = "0x" + "3" * 40
WALLET = "0x" + "4" * 40

SWAP, SYNC, MINT, BURN = UNISWAP_V2_ABIS


def _w(v: int) -> str:
    return hex(v)[2:].rjust(64, "0")


def _waddr(a: str) -> str:
    return "0x" + "0" * 24 + a[2:]


def _dims(spark):
    pools = spark.createDataFrame(
        [(POOL, "0xfac", [T0, T1], 3000, [POOL])], POOL_DDL
    )
    tokens = spark.createDataFrame(
        [(T0, "AAA", 6), (T1, "BBB", 18)], TOKEN_DIM_DDL
    )
    return pools, tokens


def _logs(spark):
    # tx: Sync(reserve0=5e6 (5.0 w/ 6 dec), reserve1=2e19 (20.0 w/ 18 dec))
    #     then Swap(amount0In=1e6, amount1Out=4e18) → amounts [1.0, -4.0]
    rows = [
        (0, "0xtx", 0, "0xb", 50, POOL,
         "0x" + _w(5_000_000) + _w(20 * 10**18), [SYNC.topic0]),
        (1, "0xtx", 0, "0xb", 50, POOL,
         "0x" + _w(1_000_000) + _w(0) + _w(0) + _w(4 * 10**18),
         [SWAP.topic0, _waddr(WALLET), _waddr(WALLET)]),
        (2, "0xtx", 0, "0xb", 50, POOL,
         "0x" + _w(2_000_000) + _w(8 * 10**18),
         [MINT.topic0, _waddr(WALLET)]),
    ]
    return spark.createDataFrame(rows, LOG_SCHEMA)


def test_extract_swap_with_as_of_reserves(spark):
    pools, tokens = _dims(spark)
    inv = build_inventory(spark, UNISWAP_V2_ABIS)
    parsed = parse_logs(_logs(spark), inv, UNISWAP_V2_ABIS)
    trades = (
        extract_dex_trades_combined(parsed, pools, tokens, families=["uniswap_v2"])
        .orderBy("log_index")
        .collect()
    )
    assert [t["event_type"] for t in trades] == ["swap", "mint"]
    swap = trades[0]
    assert swap["token_amounts"] == [1.0, -4.0]
    assert swap["token_reserves"] == [5.0, 20.0]  # from same-tx Sync
    assert swap["token_prices"] == [4.0, 0.25]  # r1/r0, r0/r1
    assert swap["wallet_address"] == WALLET
    assert swap["pool_address"] == POOL
    assert swap["factory_address"] == "0xfac"
    mint = trades[1]
    assert mint["token_amounts"] == [2.0, 8.0]


def test_enrich_liquidity_and_latest_price(spark):
    pools, tokens = _dims(spark)
    inv = build_inventory(spark, UNISWAP_V2_ABIS)
    parsed = parse_logs(_logs(spark), inv, UNISWAP_V2_ABIS)
    trades = extract_dex_trades_combined(parsed, pools, tokens, families=["uniswap_v2"])
    blocks = spark.createDataFrame(
        [(50, "0xb", 1_600_000_000)], "number long, hash string, timestamp long"
    )
    enriched = enrich_dex_trades(trades, blocks, tokens).collect()
    assert all(r["block_timestamp"] == 1_600_000_000 for r in enriched)
    assert enriched[0]["symbols"] == ["AAA", "BBB"]

    lm = liquidity_merge(trades).first()
    assert lm["merged_amounts"] == [3.0, 4.0]  # [1-?+2, -4+8]

    lp = {r["token_address"]: r["latest_price"] for r in latest_price_per_token(trades).collect()}
    assert lp[T0] == 4.0 and lp[T1] == 0.25


def test_v3_extreme_sqrtprice_beyond_dec38(spark):
    """sqrtPriceX96 is uint160 (max ~1.46e48); values past Decimal(38,0)
    must still yield a real price (ADVICE r2: routing through hex_to_dec38
    NULLed them and the trade silently priced at 0)."""
    import pytest

    from ethereum_etl_spark.operators.dex import (
        POOL_DDL,
        TOKEN_DIM_DDL,
        UNISWAP_V3_ABIS,
    )

    SWAP3 = UNISWAP_V3_ABIS[0]
    sqrtp = 2**150  # ~1.4e45 > 1e38: old path overflowed to NULL
    rows = [
        (0, "0xtx", 0, "0xb", 50, POOL,
         "0x" + _w(10**6) + _w((-(4 * 10**18)) % 2**256) + _w(sqrtp)
         + _w(1) + _w(0),
         [SWAP3.topic0, _waddr(WALLET), _waddr(WALLET)]),
    ]
    logs = spark.createDataFrame(rows, LOG_SCHEMA)
    inv = build_inventory(spark, UNISWAP_V3_ABIS)
    parsed = parse_logs(logs, inv, UNISWAP_V3_ABIS)
    pools, tokens = _dims(spark)
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["uniswap_v3"]).first()
    # price0 = (sqrtp^2 / 2^192) / (10^18 / 10^6)
    want = (float(sqrtp) ** 2 / 2**192) / 1e12
    assert t["token_prices"][0] == pytest.approx(want, rel=1e-12)
    assert t["token_prices"][1] == pytest.approx(1.0 / want, rel=1e-12)


def test_v3_fork_amm_attribution_from_pool_dim(spark):
    """KyberSwap Elastic's Swap shares uniswap v3's canonical signature
    (same topic0) — fork trades are indistinguishable at the log level and
    must inherit their amm label from the pool dimension (the creating
    factory), like the v2 forks."""
    from ethereum_etl_spark.operators.dex import UNISWAP_V3_ABIS

    SWAP3 = UNISWAP_V3_ABIS[0]
    rows = [
        (0, "0xtx", 0, "0xb", 5, POOL,
         "0x" + _w(10**6) + _w((-(2 * 10**18)) % 2**256) + _w(2**96)
         + _w(1) + _w(0),
         [SWAP3.topic0, _waddr(WALLET), _waddr(WALLET)]),
    ]
    logs = spark.createDataFrame(rows, LOG_SCHEMA)
    parsed = parse_logs(logs, build_inventory(spark, UNISWAP_V3_ABIS), UNISWAP_V3_ABIS)
    pools = spark.createDataFrame(
        [(POOL, "0xkyberfac", [T0, T1], 300, [], "kyberswap_elastic")],
        "address string, factory_address string, token_addresses array<string>,"
        "fee int, lp_token_addresses array<string>, amm string",
    )
    tokens = spark.createDataFrame([(T0, "AAA", 6), (T1, "BBB", 18)], TOKEN_DIM_DDL)
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["uniswap_v3"]).first()
    assert t["amm"] == "kyberswap_elastic"
    assert t["token_amounts"][0] == 1.0
