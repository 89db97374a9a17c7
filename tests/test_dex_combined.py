"""extract_dex_trades_combined: golden rows for every AMM family at once.

The fixture emits every family, including the window-dependent shapes (v2
Sync reserves, v3 last-Swap sqrtPriceX96, bento Sync), curve coin-index
indirection with the metapool underlying fallback, traderjoe packed and
bin-folded amounts, fork amm attribution from the pool dim, the inner-join
drop of unknown pools, and the 18-decimals fallback for a token with no
decimals row. The expected rows are literals; each family's arithmetic is
also checked against its own DuckDB oracle by the harness queries
(test_family_oracle_coverage).
"""

from __future__ import annotations

import math

from pyspark.sql import Row

from ethereum_etl_spark.operators.dex import (
    BALANCER_V2_ABIS,
    BANCOR_V2_ABIS,
    CARBON_ABIS,
    CURVE_ABIS,
    DISCOVERED_POOL_DDL,
    DMM_ABIS,
    DODO_ABIS,
    DODO_V2_ABIS,
    FJORD_ABIS,
    MESHSWAP_ABIS,
    ONE_INCH_ABIS,
    SADDLE_ABIS,
    SUSHI_BENTO_ABIS,
    TOKEN_DIM_DDL,
    TRADERJOE_ABIS,
    UNISWAP_V2_ABIS,
    UNISWAP_V3_ABIS,
    WOMBAT_ABIS,
)
from ethereum_etl_spark.operators.dex_combined import (
    FAMILY_EVENTS,
    extract_dex_trades_combined,
)
from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs
import pytest


@pytest.fixture(scope="module")
def parsed(spark):
    """parse_logs over the all-family fixture, materialized ONCE
    (localCheckpoint): the decode tree is itself a large plan, and leaving
    it inline multiplies every test's Catalyst analysis by its size. The
    extractors under test see identical rows either way."""
    df = parse_logs(
        _fixture_logs(spark), build_inventory(spark, ALL_ABIS), ALL_ABIS
    ).localCheckpoint()
    df.count()
    return df


@pytest.fixture(autouse=True)
def _no_aqe(spark):
    """These fixtures are a few dozen rows under the two largest plans in
    the repo; AQE's per-stage re-optimization doubles the (planning-bound)
    wall time while optimizing nothing. Production/replay tests keep AQE on."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", prev)


ALL_ABIS = (
    UNISWAP_V2_ABIS + UNISWAP_V3_ABIS + BALANCER_V2_ABIS + CURVE_ABIS
    + DODO_ABIS + DODO_V2_ABIS + TRADERJOE_ABIS + ONE_INCH_ABIS
    + SUSHI_BENTO_ABIS + WOMBAT_ABIS + CARBON_ABIS + FJORD_ABIS
    + MESHSWAP_ABIS + BANCOR_V2_ABIS + SADDLE_ABIS + DMM_ABIS
)

W = lambda v: f"{v & ((1 << 256) - 1):064x}"  # noqa: E731 — two's complement
TOPIC = lambda v: "0x" + W(v)  # noqa: E731
ADDR = lambda tag: "0x" + (tag * 40)[:40]  # noqa: E731

LOG_DDL = (
    "log_index int, transaction_hash string, transaction_index int,"
    "block_hash string, block_number long, address string, data string,"
    "topics array<string>"
)

TA, TB, TC, TU = ADDR("a"), ADDR("b"), ADDR("c"), ADDR("d")
WALLET1, WALLET2 = ADDR("e1"), ADDR("e2")
P_V2, P_V3, P_CRV, P_DODO, P_DV2 = ADDR("1"), ADDR("2"), ADDR("3"), ADDR("4"), ADDR("5")
P_TJ, P_OI, P_BEN, P_FJ, P_META = ADDR("6"), ADDR("7"), ADDR("8"), ADDR("9"), ADDR("31")
P_MESH = ADDR("32")
P_BC, P_PLAT = ADDR("b3"), ADDR("34")
P_SAD, P_SADU = ADDR("35"), ADDR("36")
P_DMM = ADDR("37")
VAULT, WOM, CTRL, UNKNOWN = ADDR("bb"), ADDR("cc"), ADDR("dd"), ADDR("ff")


def _fixture_logs(spark):
    rows = []

    def log(li, tx, addr, topic0, topics_rest, words, block=7):
        rows.append((li, tx, 0, "0xbh", block, addr,
                     "0x" + "".join(words), [topic0, *topics_rest]))

    v2_swap, v2_sync, v2_mint, v2_burn = (a.topic0 for a in UNISWAP_V2_ABIS)
    v3_swap, v3_mint, v3_burn, v3_collect = (a.topic0 for a in UNISWAP_V3_ABIS)

    # uniswap_v2 tx: Sync feeds the EXCLUSIVE window → Swap/Mint/Burn
    log(1, "0xv2", P_V2, v2_sync, [], [W(5_000_000), W(2 * 10**18)])
    log(2, "0xv2", P_V2, v2_swap, [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(1_000_000), W(0), W(0), W(5 * 10**17)])
    log(3, "0xv2", P_V2, v2_mint, [TOPIC(int(WALLET1, 16))], [W(2_000_000), W(10**18)])
    log(4, "0xv2", P_V2, v2_sync, [], [W(7_000_000), W(3 * 10**18)])
    log(5, "0xv2", P_V2, v2_burn, [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(500_000), W(10**17)])
    # v2 swap from a contract with NO pool row → dropped (inner semantics)
    log(1, "0xunk", UNKNOWN, v2_swap, [TOPIC(1), TOPIC(2)],
        [W(1), W(0), W(0), W(1)])

    # uniswap_v3 tx: signed amounts; Mint AFTER Swap takes its sqrtPriceX96
    sqrtp = 2**96 * 2  # price0 = 4 / (s1/s0)
    log(1, "0xv3", P_V3, v3_swap, [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(3_000_000), W(-(2 * 10**18)), W(sqrtp), W(10**15), W(100)])
    log(2, "0xv3", P_V3, v3_mint,
        [TOPIC(int(WALLET1, 16)), TOPIC(10), TOPIC(20)],
        [W(int(WALLET2, 16)), W(5), W(1_500_000), W(10**18)])
    log(3, "0xv3", P_V3, v3_collect,
        [TOPIC(int(WALLET1, 16)), TOPIC(10), TOPIC(20)],
        [W(int(WALLET2, 16)), W(400_000), W(3 * 10**17)])
    # v3 Burn in a DIFFERENT tx: no preceding Swap → sqrtp NULL → prices 0
    log(1, "0xv3b", P_V3, v3_burn,
        [TOPIC(int(WALLET1, 16)), TOPIC(10), TOPIC(20)],
        [W(7), W(100_000), W(2 * 10**17)])

    # balancer_v2: Vault emits; poolId = pool address + 12 junk bytes
    pool_id = "0x" + ADDR("21")[2:] + "0" * 24
    log(1, "0xbal", VAULT, BALANCER_V2_ABIS[0].topic0,
        [pool_id, TOPIC(int(TA, 16)), TOPIC(int(TB, 16))],
        [W(4_000_000), W(3 * 10**18)])

    # curve plain pool: TokenExchange i=0 j=2 (leg j = TC, decimals MISSING
    # → 18 fallback)
    log(1, "0xcrv", P_CRV, CURVE_ABIS[0].topic0, [TOPIC(int(WALLET1, 16))],
        [W(0), W(2_500_000), W(2), W(10**18)])
    # curve METApool: TokenExchangeUnderlying resolves via underlying array
    log(1, "0xcrvu", P_META, CURVE_ABIS[1].topic0, [TOPIC(int(WALLET2, 16))],
        [W(1), W(5 * 10**17), W(0), W(3_000_000)])
    # curve out-of-range index → dropped by both paths
    log(2, "0xcrv", P_CRV, CURVE_ABIS[0].topic0, [TOPIC(int(WALLET1, 16))],
        [W(9), W(1), W(0), W(1)])

    # dodo v1: Buy + Sell
    log(1, "0xdd1", P_DODO, DODO_ABIS[0].topic0, [TOPIC(int(WALLET1, 16))],
        [W(2_000_000), W(10**18)])
    log(2, "0xdd1", P_DODO, DODO_ABIS[1].topic0, [TOPIC(int(WALLET2, 16))],
        [W(3_000_000), W(2 * 10**18)])

    # dodo v2: DODOSwap, fromToken = TB → from leg on slot 1
    log(1, "0xdd2", P_DV2, DODO_V2_ABIS[0].topic0, [],
        [W(int(TB, 16)), W(int(TA, 16)), W(4 * 10**18), W(5_000_000),
         W(int(WALLET1, 16)), W(int(WALLET2, 16))])

    # traderjoe: packed Swap + DepositedToBins fold
    log(1, "0xtj", P_TJ, TRADERJOE_ABIS[0].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(8388608), f"{0:032x}{3_000_000:032x}", f"{4 * 10**18:032x}{0:032x}",
         W(0), W(0), W(0)])
    log(2, "0xtj", P_TJ, TRADERJOE_ABIS[1].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(64), W(160), W(2), W(1), W(2),
         W(2), f"{10**18:032x}{1_000_000:032x}", f"{2 * 10**18:032x}{500_000:032x}"])

    # one_inch: dst == token1 → src leg negative on slot 0
    log(1, "0xoi", P_OI, ONE_INCH_ABIS[0].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(TA, 16)), TOPIC(int(TB, 16))],
        [W(2_000_000), W(10**18), W(9_000_000), W(4 * 10**18), W(1), W(0)])

    # sushiswap_bento tx: Sync → Swap (tokenIn = TB → in-leg slot 1) → Mint
    log(1, "0xsb", P_BEN, SUSHI_BENTO_ABIS[1].topic0, [],
        [W(6_000_000), W(2 * 10**18)])
    log(2, "0xsb", P_BEN, SUSHI_BENTO_ABIS[0].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(TB, 16)), TOPIC(int(TA, 16))],
        [W(10**18), W(1_500_000)])
    log(3, "0xsb", P_BEN, SUSHI_BENTO_ABIS[2].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(1_000_000), W(10**18)])

    # wombat: in-event pair swap, then a Deposit (one-sided, pool order);
    # platypus pool (identical events) attributes via its dim label
    log(1, "0xwo", WOM, WOMBAT_ABIS[0].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(int(TA, 16)), W(int(TB, 16)), W(3_000_000), W(2 * 10**18)])
    log(2, "0xwo", WOM, WOMBAT_ABIS[1].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(int(TB, 16)), W(2 * 10**18), W(1)])
    log(1, "0xpl", P_PLAT, WOMBAT_ABIS[2].topic0,
        [TOPIC(int(WALLET2, 16)), TOPIC(int(WALLET1, 16))],
        [W(int(TA, 16)), W(900_000), W(1)])

    # bancor v2 converter: Conversion + both liquidity events
    log(1, "0xbc", P_BC, BANCOR_V2_ABIS[0].topic0,
        [TOPIC(int(TA, 16)), TOPIC(int(TB, 16)), TOPIC(int(WALLET1, 16))],
        [W(2_000_000), W(3 * 10**18), W(5)])
    log(2, "0xbc", P_BC, BANCOR_V2_ABIS[1].topic0,
        [TOPIC(int(WALLET2, 16)), TOPIC(int(TB, 16))],
        [W(10**18), W(4 * 10**18), W(1)])
    log(3, "0xbc", P_BC, BANCOR_V2_ABIS[2].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(TA, 16))],
        [W(700_000), W(1_200_000), W(1)])

    # carbondefi: controller-emitted
    log(1, "0xcb", CTRL, CARBON_ABIS[0].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(TA, 16)), TOPIC(int(TB, 16))],
        [W(1_500_000), W(10**18), W(100), W(1)])

    # meshswap tx: Sync (decodes under uniswap v2's topic0 — identical
    # signature) feeds the exclusive window; ExchangePos sells TB (event
    # token0 != pool token0 -> sold amount on slot 1), ExchangeNeg sells TA;
    # AddLiquidity/RemoveLiquidity read amounts in POOL order
    log(1, "0xms", P_MESH, v2_sync, [], [W(9_000_000), W(4 * 10**18)])
    log(2, "0xms", P_MESH, MESHSWAP_ABIS[0].topic0, [],
        [W(int(TB, 16)), W(2 * 10**18), W(int(TA, 16)), W(1_900_000)])
    log(3, "0xms", P_MESH, MESHSWAP_ABIS[1].topic0, [],
        [W(int(TA, 16)), W(1_000_000), W(int(TB, 16)), W(5 * 10**17)])
    log(4, "0xms", P_MESH, MESHSWAP_ABIS[2].topic0, [],
        [W(int(WALLET1, 16)), W(int(TA, 16)), W(2_000_000), W(int(TB, 16)),
         W(10**18), W(777)])
    log(5, "0xms", P_MESH, MESHSWAP_ABIS[3].topic0, [],
        [W(int(WALLET2, 16)), W(int(TA, 16)), W(500_000), W(int(TB, 16)),
         W(2 * 10**17), W(333)])

    # saddle: TokenSwap i=0 j=2 on a 3-coin pool (TC decimals missing ->
    # 18 fallback); TokenSwapUnderlying resolves via the underlying array;
    # out-of-range index -> dropped by both paths
    log(1, "0xsd", P_SAD, SADDLE_ABIS[0].topic0, [TOPIC(int(WALLET1, 16))],
        [W(2_200_000), W(3 * 10**18), W(0), W(2)])
    log(1, "0xsdu", P_SADU, SADDLE_ABIS[1].topic0, [TOPIC(int(WALLET2, 16))],
        [W(7 * 10**17), W(2_600_000), W(1), W(0)])
    log(2, "0xsd", P_SAD, SADDLE_ABIS[0].topic0, [TOPIC(int(WALLET1, 16))],
        [W(1), W(1), W(9), W(0)])

    # kyber dmm tx: 4-word Sync (vReserves then the REAL reserve pair the
    # v2 math reads) -> dmm Swap (own topic0, trailing feeInPrecision) AND a
    # v2-topic0 Mint on the SAME pool whose reserves must come from that
    # dmm Sync (shared-window coupling both paths implement)
    log(1, "0xdm", P_DMM, DMM_ABIS[1].topic0, [],
        [W(50_000_000), W(20 * 10**18), W(8_000_000), W(2 * 10**18)])
    log(2, "0xdm", P_DMM, DMM_ABIS[0].topic0,
        [TOPIC(int(WALLET1, 16)), TOPIC(int(WALLET2, 16))],
        [W(2_500_000), W(0), W(0), W(8 * 10**17), W(10**15)])
    log(3, "0xdm", P_DMM, v2_mint, [TOPIC(int(WALLET1, 16))],
        [W(1_200_000), W(3 * 10**17)])

    # fjord: Buy + Sell
    log(1, "0xfj", P_FJ, FJORD_ABIS[0].topic0, [TOPIC(int(WALLET1, 16))],
        [W(2_000_000), W(10**18), W(5)])
    log(2, "0xfj", P_FJ, FJORD_ABIS[1].topic0, [TOPIC(int(WALLET2, 16))],
        [W(10**18), W(1_800_000), W(5)])

    return spark.createDataFrame(rows, LOG_DDL)


def _dims(spark):
    mk = lambda addr, toks, amm=None, under=None: (  # noqa: E731
        addr, "0xfac", toks, 0, [], under, amm, 1
    )
    pools = spark.createDataFrame(
        [
            mk(P_V2, [TA, TB], amm="sushiswap"),  # v2-fork attribution
            mk(P_V3, [TA, TB]),
            mk(P_CRV, [TA, TB, TC]),
            mk(P_META, [TA, TB], under=[TB, TU]),
            mk(P_DODO, [TA, TB]),
            mk(P_DV2, [TA, TB]),
            mk(P_TJ, [TA, TB]),
            mk(P_OI, [TA, TB]),
            mk(P_BEN, [TA, TB]),
            mk(P_FJ, [TA, TB]),
            mk(P_MESH, [TA, TB], amm="meshswap"),
            mk(WOM, [TA, TB]),
            mk(P_PLAT, [TA, TB], amm="platypus"),
            mk(P_BC, [TA, TB]),
            mk(P_SAD, [TA, TB, TC]),
            mk(P_SADU, [TA, TB], amm="saddle", under=[TB, TU]),
            mk(P_DMM, [TA, TB], amm="dmm"),
        ],
        DISCOVERED_POOL_DDL,
    )
    # TC deliberately missing → 18-decimals fallback on that leg
    tokens = spark.createDataFrame(
        [(TA, "A", 6), (TB, "B", 18), (TU, "U", 9)], TOKEN_DIM_DDL
    )
    return pools, tokens


GOLDEN_COLUMNS = (
    "token_amounts", "pool_address", "transaction_hash", "log_index",
    "block_number", "event_type", "token_reserves", "token_prices",
    "token_addresses", "factory_address", "wallet_address", "amm",
)

# extract_dex_trades_combined(parsed, *_dims(spark)) on this fixture, in
# GOLDEN_COLUMNS order (three lines per row), sorted by _key
GOLDEN_ROWS = [
    ([4.0, -3.0], ADDR("21"), "0xbal", 1, 7, "swap",
     [0.0, 0.0], [0.75, 1.3333333333333333],
     [TA, TB], VAULT, None, "balancer_v2"),
    ([-2.0, 3.0], P_BC, "0xbc", 1, 7, "swap",
     [0.0, 0.0], [1.5, 0.6666666666666666],
     [TA, TB], "0xfac", WALLET1, "bancor_v2"),
    ([0.0, 1.0], P_BC, "0xbc", 2, 7, "mint",
     [0.0, 4.0], [0.0, 0.0],
     [TA, TB], "0xfac", WALLET2, "bancor_v2"),
    ([-0.7, 0.0], P_BC, "0xbc", 3, 7, "burn",
     [1.2, 0.0], [0.0, 0.0],
     [TA, TB], "0xfac", WALLET1, "bancor_v2"),
    ([1.5, -1.0], CTRL, "0xcb", 1, 7, "swap",
     [0.0, 0.0], [0.6666666666666666, 1.5],
     [TA, TB], CTRL, WALLET1, "carbondefi"),
    ([2.5, -1.0], P_CRV, "0xcrv", 1, 7, "swap",
     [0.0, 0.0], [0.4, 2.5],
     [TA, TC], "0xfac", WALLET1, "curve"),
    ([500000000.0, -3e-12], P_META, "0xcrvu", 1, 7, "swap",
     [0.0, 0.0], [6.0000000000000006e-21, 1.6666666666666666e+20],
     [TU, TB], "0xfac", WALLET2, "curve"),
    ([2.5, -0.8], P_DMM, "0xdm", 2, 7, "swap",
     [8.0, 2.0], [0.25, 4.0],
     [TA, TB], "0xfac", WALLET2, "dmm"),
    ([1.2, 0.3], P_DMM, "0xdm", 3, 7, "mint",
     [8.0, 2.0], [0.25, 4.0],
     [TA, TB], "0xfac", WALLET1, "dmm"),
    ([-2.0, 1.0], P_DODO, "0xdd1", 1, 7, "swap",
     [0.0, 0.0], [0.5, 2.0],
     [TA, TB], "0xfac", WALLET1, "dodo"),
    ([3.0, -2.0], P_DODO, "0xdd1", 2, 7, "swap",
     [0.0, 0.0], [0.6666666666666666, 1.5],
     [TA, TB], "0xfac", WALLET2, "dodo"),
    ([-5.0, 4.0], P_DV2, "0xdd2", 1, 7, "swap",
     [0.0, 0.0], [0.8, 1.25],
     [TA, TB], "0xfac", WALLET1, "dodo_v2"),
    ([-2.0, 1.0], P_FJ, "0xfj", 1, 7, "swap",
     [0.0, 0.0], [0.5, 2.0],
     [TA, TB], "0xfac", WALLET1, "fjord"),
    ([1.8, -1.0], P_FJ, "0xfj", 2, 7, "swap",
     [0.0, 0.0], [0.5555555555555556, 1.8],
     [TA, TB], "0xfac", WALLET2, "fjord"),
    ([-1.9, 2.0], P_MESH, "0xms", 2, 7, "swap",
     [9.0, 4.0], [0.4444444444444444, 2.25],
     [TA, TB], "0xfac", None, "meshswap"),
    ([1.0, -0.5], P_MESH, "0xms", 3, 7, "swap",
     [9.0, 4.0], [0.4444444444444444, 2.25],
     [TA, TB], "0xfac", None, "meshswap"),
    ([2.0, 1.0], P_MESH, "0xms", 4, 7, "mint",
     [9.0, 4.0], [0.4444444444444444, 2.25],
     [TA, TB], "0xfac", WALLET1, "meshswap"),
    ([-0.5, -0.2], P_MESH, "0xms", 5, 7, "burn",
     [9.0, 4.0], [0.4444444444444444, 2.25],
     [TA, TB], "0xfac", WALLET2, "meshswap"),
    ([-2.0, 1.0], P_OI, "0xoi", 1, 7, "swap",
     [9.0, 4.0], [0.4444444444444444, 2.25],
     [TA, TB], "0xfac", WALLET1, "one_inch"),
    ([0.9, 0.0], P_PLAT, "0xpl", 1, 7, "withdraw",
     [0.0, 0.0], [0.0, 0.0],
     [TA, TB], "0xfac", WALLET1, "platypus"),
    ([2.2, -3.0], P_SAD, "0xsd", 1, 7, "swap",
     [0.0, 0.0], [1.3636363636363635, 0.7333333333333334],
     [TA, TC], "0xfac", WALLET1, "saddle"),
    ([700000000.0, -2.6e-12], P_SADU, "0xsdu", 1, 7, "swap",
     [0.0, 0.0], [3.714285714285714e-21, 2.6923076923076926e+20],
     [TU, TB], "0xfac", WALLET2, "saddle"),
    ([1.0, -0.5], P_V2, "0xv2", 2, 7, "swap",
     [5.0, 2.0], [0.4, 2.5],
     [TA, TB], "0xfac", WALLET2, "sushiswap"),
    ([2.0, 1.0], P_V2, "0xv2", 3, 7, "mint",
     [5.0, 2.0], [0.4, 2.5],
     [TA, TB], "0xfac", WALLET1, "sushiswap"),
    ([-0.5, -0.1], P_V2, "0xv2", 5, 7, "burn",
     [7.0, 3.0], [0.42857142857142855, 2.3333333333333335],
     [TA, TB], "0xfac", WALLET2, "sushiswap"),
    ([-1.5, 1.0], P_BEN, "0xsb", 2, 7, "swap",
     [6.0, 2.0], [0.3333333333333333, 3.0],
     [TA, TB], "0xfac", WALLET1, "sushiswap_bento"),
    ([1.0, 1.0], P_BEN, "0xsb", 3, 7, "mint",
     [6.0, 2.0], [0.3333333333333333, 3.0],
     [TA, TB], "0xfac", WALLET2, "sushiswap_bento"),
    ([3.0, -4.0], P_TJ, "0xtj", 1, 7, "swap",
     [0.0, 0.0], [1.3333333333333333, 0.75],
     [TA, TB], "0xfac", WALLET2, "traderjoe_v2_1"),
    ([1.5, 3.0], P_TJ, "0xtj", 2, 7, "mint",
     [0.0, 0.0], [0.0, 0.0],
     [TA, TB], "0xfac", WALLET2, "traderjoe_v2_1"),
    ([3.0, -2.0], P_V3, "0xv3", 1, 7, "swap",
     [0.0, 0.0], [4e-12, 250000000000.0],
     [TA, TB], "0xfac", WALLET2, "uniswap_v3"),
    ([1.5, 1.0], P_V3, "0xv3", 2, 7, "mint",
     [0.0, 0.0], [4e-12, 250000000000.0],
     [TA, TB], "0xfac", WALLET1, "uniswap_v3"),
    ([0.4, 0.3], P_V3, "0xv3", 3, 7, "burn",
     [0.0, 0.0], [4e-12, 250000000000.0],
     [TA, TB], "0xfac", WALLET2, "uniswap_v3"),
    ([0.1, 0.2], P_V3, "0xv3b", 1, 7, "burn",
     [0.0, 0.0], [0.0, 0.0],
     [TA, TB], "0xfac", WALLET1, "uniswap_v3"),
    ([3.0, -2.0], WOM, "0xwo", 1, 7, "swap",
     [0.0, 0.0], [0.6666666666666666, 1.5],
     [TA, TB], WOM, WALLET2, "wombat"),
    ([0.0, 2.0], WOM, "0xwo", 2, 7, "deposit",
     [0.0, 0.0], [0.0, 0.0],
     [TA, TB], "0xfac", WALLET2, "wombat"),
]

# the uniswap_v3 rows' token_reserves when the as-of pool_balances of
# test_combined_with_v3_asof_reserves_golden_rows are supplied
V3_ASOF_RESERVES = {
    ("0xv3", 1): [12.0, 6.0],
    ("0xv3", 2): [12.0, 6.0],
    ("0xv3", 3): [12.0, 6.0],
    ("0xv3b", 1): [12.0, 6.0],
}


def _golden(v3_reserves=None):
    rows = [dict(zip(GOLDEN_COLUMNS, r)) for r in GOLDEN_ROWS]
    for r in rows:
        if v3_reserves and r["amm"] == "uniswap_v3":
            r["token_reserves"] = v3_reserves[(r["transaction_hash"], r["log_index"])]
    return [Row(**r) for r in rows]


def _key(r):
    return (r["amm"], r["transaction_hash"], r["log_index"])


def _rows_equal(a, b):
    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 10)
        if isinstance(v, list):
            return [norm(x) for x in v]
        return v

    return {k: norm(a[k]) for k in a.asDict()} == {k: norm(b[k]) for k in b.asDict()}


def _assert_rows(got, want):
    got, want = sorted(got, key=_key), sorted(want, key=_key)
    assert [_key(r) for r in got] == [_key(r) for r in want]
    for g, w in zip(got, want):
        assert _rows_equal(g, w), (g, w)
    return got


def test_combined_all_families_golden_rows(spark, parsed):
    pools, tokens = _dims(spark)
    combined = extract_dex_trades_combined(parsed, pools, tokens)
    assert combined.columns == list(GOLDEN_COLUMNS)
    rows = combined.collect()
    assert len(rows) == 35  # every family present, drops applied
    assert len({r["amm"] for r in rows}) == 17  # incl. platypus/bancor_v2/saddle/dmm
    _assert_rows(rows, _golden())


def test_combined_with_v3_asof_reserves_golden_rows(spark, parsed):
    pools, tokens = _dims(spark)
    balances = spark.createDataFrame(
        [
            (P_V3, TA, 5, 9_000_000.0),
            (P_V3, TB, 5, float(6 * 10**18)),
            (P_V3, TA, 7, 12_000_000.0),  # same-block balance counts
        ],
        "holder_address string, token_address string, block_number long, value double",
    )
    combined = extract_dex_trades_combined(parsed, pools, tokens, pool_balances=balances)
    rows = _assert_rows(combined.collect(), _golden(V3_ASOF_RESERVES))
    v3 = [r for r in rows if r["amm"] == "uniswap_v3"]
    assert all(r["token_reserves"][0] > 0 for r in v3)


def test_combined_family_subset_prunes_output(spark, parsed):
    pools, tokens = _dims(spark)
    sub = extract_dex_trades_combined(
        parsed, pools, tokens, families=["curve", "wombat"]
    )
    # the wombat subset carries its aux Deposit/Withdraw rows, whose amm
    # attributes through the pool dim (platypus fork)
    assert sorted(
        r["amm"] for r in sub.select("amm").distinct().collect()
    ) == ["curve", "platypus", "wombat"]


def test_combined_meshswap_without_v2_keeps_sync_reserves(spark, parsed):
    # meshswap requested ALONE: its Sync marks decode under the uniswap_v2
    # inventory row (same topic0), and the combined extractor's mark-only
    # pseudo-branch must still feed them to the reserve window.
    pools, tokens = _dims(spark)
    sub = extract_dex_trades_combined(
        parsed, pools, tokens, families=["meshswap"]
    )
    rows = sorted(sub.collect(), key=lambda r: r["log_index"])
    assert [r["amm"] for r in rows] == ["meshswap"] * 4
    assert [r["event_type"] for r in rows] == ["swap", "swap", "mint", "burn"]
    # legs: ExchangePos sold TB -> [-1.9, +2.0]; ExchangeNeg sold TA ->
    # [+1.0, -0.5]; liquidity rows in pool order
    assert rows[0]["token_amounts"] == [-1.9, 2.0]
    assert rows[1]["token_amounts"] == [1.0, -0.5]
    assert rows[2]["token_amounts"] == [2.0, 1.0]
    assert rows[3]["token_amounts"] == [-0.5, -0.2]
    # reserves came from the v2-namespace Sync: [9.0, 4.0] scaled
    assert all(r["token_reserves"] == [9.0, 4.0] for r in rows)
    assert all(r["token_prices"] == [4.0 / 9.0, 9.0 / 4.0] for r in rows)


def test_family_events_cover_every_abi_namespace():
    assert {a.namespace for a in ALL_ABIS} == set(FAMILY_EVENTS)


# family → the harness query whose DuckDB oracle checks it, run through
# extract_dex_trades_combined(families=[...]); "wombat_liquidity" is the
# Deposit/Withdraw side branch of the wombat family
FAMILY_ORACLES = {
    "uniswap_v2": "q37_dex_trade_assembly",
    "dmm": "q65_dmm_trades",
    "meshswap": "q59_meshswap_trades",
    "uniswap_v3": "q38_uniswap_v3_trades",
    "balancer_v2": "q44_balancer_vault_swaps",
    "curve": "q48_curve_trades",
    "saddle": "q63_saddle_trades",
    "dodo": "q53_dodo_trades",
    "dodo_v2": "q54_dodo_v2_trades",
    "traderjoe_v2_1": "q55_traderjoe_lb_trades",
    "one_inch": "q56_multi_family_trades",
    "sushiswap_bento": "q56_multi_family_trades",
    "wombat": "q56_multi_family_trades",
    "carbondefi": "q56_multi_family_trades",
    "fjord": "q56_multi_family_trades",
    "bancor_v2": "q62_bancor_v2_trades",
    "wombat_liquidity": "q61_wombat_platypus_liquidity",
}


def test_family_oracle_coverage():
    """Every family keeps an independent reference: a DuckDB oracle over a
    harness query that runs the combined extractor for that family."""
    import inspect

    from ethereum_etl_spark.plans.harness_queries import ORACLES, QUERIES

    assert set(FAMILY_ORACLES) == set(FAMILY_EVENTS) | {"wombat_liquidity"}
    for fam, q in FAMILY_ORACLES.items():
        assert q in ORACLES, (fam, q)
        src = inspect.getsource(QUERIES[q])
        assert "extract_dex_trades_combined" in src, (fam, q)
        assert f'"{fam.removesuffix("_liquidity")}"' in src, (fam, q)


def test_combined_plan_single_window_exchange_and_broadcast_dims(spark, parsed):
    """The scale property the combined extractor exists for: ALL families
    share one pools broadcast + one decimals broadcast pair, and the v2/bento
    exclusive-frame window and the v3 inclusive-frame window plan over a
    SINGLE (contract_address, transaction_hash) shuffle — not one per
    family."""
    pools, tokens = _dims(spark)
    plan = (
        extract_dex_trades_combined(parsed, pools, tokens)
        ._jdf.queryExecution().executedPlan().toString()
    )
    win_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "contract_address" in ln
    ]
    assert len(win_exchanges) == 1, plan[:4000]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:4000]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_combined_v2_without_dmm_keeps_dmm_sync_reserves(spark, parsed):
    # uniswap_v2 requested ALONE: the v2-topic0 Mint on the DMM pool must
    # still read the dmm 4-word Sync's reserves through the mark-only
    # pseudo-branch, as in the all-family run; dmm Swaps must NOT emit.
    pools, tokens = _dims(spark)
    sub = extract_dex_trades_combined(
        parsed, pools, tokens, families=["uniswap_v2"]
    )
    rows = [r for r in sub.collect() if r["pool_address"] == P_DMM]
    assert [r["event_type"] for r in rows] == ["mint"]
    r = rows[0]
    # reserves from the dmm Sync trailing pair: [8.0, 2.0] scaled (6/18 dec)
    assert r["token_reserves"] == [8.0, 2.0]
    assert r["token_prices"] == [2.0 / 8.0, 8.0 / 2.0]
    assert r["amm"] == "dmm"  # pool-dim attribution even on the v2 branch
