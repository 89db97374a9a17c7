"""Round-4 AMM families: DODO v2, TraderJoe LB packed amounts, 1inch,
SushiSwap-Bento, Wombat, CarbonDeFi, Fjord — unit decode semantics + the
combined-inventory topic0 disjointness invariant (one parse pass dispatches
every family; a topic collision would fan logs out across extractors)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ethereum_etl_spark.operators.dex import (
    BALANCER_V2_ABIS,
    CARBON_ABIS,
    CURVE_ABIS,
    DODO_ABIS,
    DODO_V2_ABIS,
    FJORD_ABIS,
    ONE_INCH_ABIS,
    POOL_DDL,
    SUSHI_BENTO_ABIS,
    TOKEN_DIM_DDL,
    TRADERJOE_ABIS,
    UNISWAP_V2_ABIS,
    UNISWAP_V3_ABIS,
    WOMBAT_ABIS,
)
from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

ALL_FAMILY_ABIS = (
    UNISWAP_V2_ABIS + UNISWAP_V3_ABIS + BALANCER_V2_ABIS + CURVE_ABIS
    + DODO_ABIS + DODO_V2_ABIS + TRADERJOE_ABIS + ONE_INCH_ABIS
    + SUSHI_BENTO_ABIS + WOMBAT_ABIS + CARBON_ABIS + FJORD_ABIS
)


def test_combined_inventory_topic0_disjoint():
    """(topic0, topic_count) must be unique across the single parse pass —
    the reason kyberswap_elastic (v3-identical Swap) is attributed via the
    pool dim instead of a second ABI row (memory: inventory join fan-out)."""
    keys = [(a.topic0, a.topic_count) for a in ALL_FAMILY_ABIS]
    assert len(keys) == len(set(keys)), sorted(
        k for k in keys if keys.count(k) > 1
    )


def test_dodo_v2_swap_topic0_matches_reference_doc():
    # contracts_v2.py:52 docstring publishes the DSP swap hash
    assert DODO_V2_ABIS[0].topic0 == (
        "0xc2c0245e056d5fb095f04cd6373bc770802ebd1e6c918eb78fdef843cdb37b0f"
    )


W = lambda v: f"{v:064x}"  # noqa: E731
ADDR = lambda tag: "0x" + tag * 40  # noqa: E731


def _log(spark, topic0, topics_rest, data_words, address, li=1):
    rows = [(li, "0xtx", 0, "0xb", 7, address,
             "0x" + "".join(data_words), [topic0, *topics_rest])]
    return spark.createDataFrame(
        rows,
        "log_index int, transaction_hash string, transaction_index int,"
        "block_hash string, block_number long, address string, data string,"
        "topics array<string>",
    )


def test_dodo_v2_swap_leg_order_follows_pool(spark):
    t0, t1, pool = ADDR("a"), ADDR("b"), ADDR("c")
    abi = DODO_V2_ABIS[0]
    # fromToken = t1 → from leg lands on slot 1
    logs = _log(
        spark, abi.topic0, [],
        [W(int(t1, 16)), W(int(t0, 16)), W(5_000_000), W(2 * 10**18),
         W(int(ADDR("d"), 16)), W(int(ADDR("e"), 16))],
        pool,
    )
    parsed = parse_logs(logs, build_inventory(spark, DODO_V2_ABIS), DODO_V2_ABIS)
    pools = spark.createDataFrame([(pool, "0xfac", [t0, t1], 0, [])], POOL_DDL)
    tokens = spark.createDataFrame([(t0, "A", 18), (t1, "B", 6)], TOKEN_DIM_DDL)
    out = extract_dex_trades_combined(parsed, pools, tokens, families=["dodo_v2"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["amm"] == "dodo_v2" and r["event_type"] == "swap"
    # fromAmount=5e6 on t1 (6 decimals) → +5.0; toAmount=2e18 on t0 → −2.0
    assert r["token_amounts"] == [-2.0, 5.0]
    assert r["wallet_address"] == ADDR("d")


def test_traderjoe_packed_swap_amounts(spark):
    t0, t1, pool = ADDR("a"), ADDR("b"), ADDR("c")
    abi = TRADERJOE_ABIS[0]
    # amountsIn: y=0, x=3e6 (packed: high 128 bits = y, low = x)
    amounts_in = f"{0:032x}{3_000_000:032x}"
    # amountsOut: y=4e18, x=0
    amounts_out = f"{4 * 10**18:032x}{0:032x}"
    logs = _log(
        spark, abi.topic0,
        ["0x" + W(int(ADDR("d"), 16)), "0x" + W(int(ADDR("e"), 16))],
        [W(8388608), amounts_in, amounts_out, W(0), W(0), W(0)],
        pool,
    )
    parsed = parse_logs(logs, build_inventory(spark, TRADERJOE_ABIS), TRADERJOE_ABIS)
    pools = spark.createDataFrame([(pool, "0xfac", [t0, t1], 0, [])], POOL_DDL)
    tokens = spark.createDataFrame([(t0, "X", 6), (t1, "Y", 18)], TOKEN_DIM_DDL)
    out = extract_dex_trades_combined(
        parsed, pools, tokens, families=["traderjoe_v2_1"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    # x-leg: +3e6/1e6 = 3.0 in; y-leg: −4e18/1e18 = −4.0 out
    assert r["token_amounts"] == [3.0, -4.0]
    assert r["token_prices"][0] == 4.0 / 3.0
    assert r["wallet_address"] == ADDR("e")  # 'to' wins over 'sender'


def test_traderjoe_bin_deposit_fold(spark):
    t0, t1, pool = ADDR("a"), ADDR("b"), ADDR("c")
    abi = TRADERJOE_ABIS[1]  # DepositedToBins
    # dynamic tail: two offsets (ids at word 2, amounts at word 5), then
    # ids = [1, 2]; amounts = two packed words (y=1e18,x=1e6) + (y=2e18,x=5e5)
    data = [
        W(64), W(160),
        W(2), W(1), W(2),
        W(2), f"{10**18:032x}{1_000_000:032x}", f"{2 * 10**18:032x}{500_000:032x}",
    ]
    logs = _log(
        spark, abi.topic0,
        ["0x" + W(int(ADDR("d"), 16)), "0x" + W(int(ADDR("e"), 16))],
        data, pool,
    )
    parsed = parse_logs(logs, build_inventory(spark, TRADERJOE_ABIS), TRADERJOE_ABIS)
    pools = spark.createDataFrame([(pool, "0xfac", [t0, t1], 0, [])], POOL_DDL)
    tokens = spark.createDataFrame([(t0, "X", 6), (t1, "Y", 18)], TOKEN_DIM_DDL)
    out = extract_dex_trades_combined(
        parsed, pools, tokens, families=["traderjoe_v2_1"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["event_type"] == "mint"
    # x: (1e6 + 5e5)/1e6 = 1.5; y: (1e18 + 2e18)/1e18 = 3.0 — both POSITIVE
    assert r["token_amounts"] == [1.5, 3.0]
    assert r["token_prices"] == [0.0, 0.0]


def test_parse_pass_routes_all_families(spark):
    """One combined inventory: a mixed bag of one log per family parses to
    exactly one row per family with the right event_name/namespace."""
    t0, t1 = ADDR("a"), ADDR("b")
    mk = []
    mk.append(_log(spark, DODO_V2_ABIS[0].topic0, [],
                   [W(int(t0, 16)), W(int(t1, 16)), W(1), W(1),
                    W(int(t0, 16)), W(int(t0, 16))], ADDR("1"), li=1))
    mk.append(_log(spark, WOMBAT_ABIS[0].topic0,
                   ["0x" + W(int(t0, 16)), "0x" + W(int(t1, 16))],
                   [W(int(t0, 16)), W(int(t1, 16)), W(1), W(1)], ADDR("2"), li=2))
    mk.append(_log(spark, CARBON_ABIS[0].topic0,
                   ["0x" + W(int(t0, 16)), "0x" + W(int(t0, 16)), "0x" + W(int(t1, 16))],
                   [W(1), W(1), W(0), W(0)], ADDR("3"), li=3))
    mk.append(_log(spark, FJORD_ABIS[0].topic0, ["0x" + W(int(t0, 16))],
                   [W(1), W(1), W(0)], ADDR("4"), li=4))
    mk.append(_log(spark, ONE_INCH_ABIS[0].topic0,
                   ["0x" + W(int(t0, 16)), "0x" + W(int(t0, 16)), "0x" + W(int(t1, 16))],
                   [W(1), W(1), W(1), W(1), W(1), W(int(t0, 16))], ADDR("5"), li=5))
    mk.append(_log(spark, SUSHI_BENTO_ABIS[0].topic0,
                   ["0x" + W(int(t0, 16)), "0x" + W(int(t0, 16)), "0x" + W(int(t1, 16))],
                   [W(1), W(1)], ADDR("6"), li=6))
    logs = mk[0]
    for m in mk[1:]:
        logs = logs.unionByName(m)
    inv = build_inventory(spark, ALL_FAMILY_ABIS)
    parsed = parse_logs(logs, inv, ALL_FAMILY_ABIS)
    rows = parsed.select("log_index", "event_name", "namespace").collect()
    got = {r["log_index"]: (r["event_name"], r["namespace"][0]) for r in rows}
    assert got == {
        1: ("DODOSwap", "dodo_v2"),
        2: ("Swap", "wombat"),
        3: ("TokensTraded", "carbondefi"),
        4: ("Buy", "fjord"),
        5: ("Swapped", "one_inch"),
        6: ("Swap", "sushiswap_bento"),
    }
