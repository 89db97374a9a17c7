"""DEX vocabulary: event ABIs per AMM family, pool discovery, dimension DDLs.

The reference prices each AMM family with its own resolver class
(service/dex/*/, dispatched by dex_client_factory.py). Here one extractor,
:func:`ethereum_etl_spark.operators.dex_combined.extract_dex_trades_combined`,
assembles trades for every family; this module holds what it and the
streamer share:

- the ``*_ABIS`` event lists, one per family namespace (parsed by
  :func:`ethereum_etl_spark.operators.parsed_logs.parse_logs`);
- :func:`discover_pools`: factory create events → the dex_pools dimension
  (export_dex_pools_job's RPC introspection, done from the event stream);
- the pool/token/trade DDLs, ``_pe`` (a parsed-event field as double) and
  ``_asof_pool_reserves`` (uniswap_v3 reserves from pool balance history);
- the J7/A8/A10 helpers over assembled trades: ``enrich_dex_trades``,
  ``liquidity_merge`` and ``latest_price_per_token``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ethereum_etl_spark.operators.parsed_logs import EventAbi

INFINITE_PRICE_THRESHOLD = 1e18

POOL_DDL = (
    "address string, factory_address string, token_addresses array<string>,"
    "fee int, lp_token_addresses array<string>"
)
TOKEN_DIM_DDL = "address string, symbol string, decimals int"

UNISWAP_V2_ABIS = [
    EventAbi(
        name="Swap",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "amount0In", "type": "uint256", "indexed": False},
            {"name": "amount1In", "type": "uint256", "indexed": False},
            {"name": "amount0Out", "type": "uint256", "indexed": False},
            {"name": "amount1Out", "type": "uint256", "indexed": False},
            {"name": "to", "type": "address", "indexed": True},
        ],
        namespace="uniswap_v2",
        contract_name="pair",
    ),
    EventAbi(
        name="Sync",
        inputs=[
            {"name": "reserve0", "type": "uint112", "indexed": False},
            {"name": "reserve1", "type": "uint112", "indexed": False},
        ],
        namespace="uniswap_v2",
        contract_name="pair",
    ),
    EventAbi(
        name="Mint",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
        ],
        namespace="uniswap_v2",
        contract_name="pair",
    ),
    EventAbi(
        name="Burn",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
            {"name": "to", "type": "address", "indexed": True},
        ],
        namespace="uniswap_v2",
        contract_name="pair",
    ),
]


def _pe(name):
    # parsed_event values are decimal strings up to 2^63 and 0x-hex beyond
    # (parsed_logs static-decode contract) — hex_to_dec38 accepts both
    from ethereum_etl_spark.functions.hex import hex_to_dec38

    return hex_to_dec38(F.col("parsed_event")[name]).cast("double")


# Kyber DMM (reference service/dex/dmm/dmm.py — a UniswapV2Amm subclass
# ENABLED in the live factory, dex_client_factory.py:46): v2 semantics under
# DMM's own signatures — Swap carries a trailing feeInPrecision word and
# Sync is 4 words (vReserve0, vReserve1, reserve0, reserve1; the trailing
# pair is the REAL reserve set v2's getReserves math reads). Mint/Burn are
# byte-identical to v2 → they decode under the v2 inventory rows and
# attribute "dmm" through the pool dimension, like every other v2 fork.
DMM_ABIS = [
    EventAbi(
        name="Swap",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "amount0In", "type": "uint256", "indexed": False},
            {"name": "amount1In", "type": "uint256", "indexed": False},
            {"name": "amount0Out", "type": "uint256", "indexed": False},
            {"name": "amount1Out", "type": "uint256", "indexed": False},
            {"name": "to", "type": "address", "indexed": True},
            {"name": "feeInPrecision", "type": "uint256", "indexed": False},
        ],
        namespace="dmm",
        contract_name="pool",
    ),
    EventAbi(
        name="Sync",
        inputs=[
            {"name": "vReserve0", "type": "uint256", "indexed": False},
            {"name": "vReserve1", "type": "uint256", "indexed": False},
            {"name": "reserve0", "type": "uint256", "indexed": False},
            {"name": "reserve1", "type": "uint256", "indexed": False},
        ],
        namespace="dmm",
        contract_name="pool",
    ),
]


def enrich_dex_trades(trades: DataFrame, blocks: DataFrame, tokens: DataFrame) -> DataFrame:
    """J7: trades × blocks (timestamp/hash) + token symbols array."""
    from ethereum_etl_spark.operators.enrich import enrich_with_blocks

    t = enrich_with_blocks(trades, blocks)
    sym = F.broadcast(tokens.select(F.col("address"), F.col("symbol")))
    t = (
        t.withColumn("__t0", F.element_at("token_addresses", 1))
        .withColumn("__t1", F.element_at("token_addresses", 2))
        .join(sym.select(F.col("address").alias("__t0"), F.col("symbol").alias("__sym0")), "__t0", "left")
        .join(sym.select(F.col("address").alias("__t1"), F.col("symbol").alias("__sym1")), "__t1", "left")
        .withColumn("symbols", F.array("__sym0", "__sym1"))
        .drop("__t0", "__t1", "__sym0", "__sym1")
    )
    return t


def liquidity_merge(trades: DataFrame) -> DataFrame:
    """A8 (enrich_dex_trades_job.py:141-173): element-wise sum of amount
    arrays per (transaction, pool) — zip_with over grouped arrays."""
    return (
        trades.groupBy("transaction_hash", "pool_address")
        .agg(F.collect_list("token_amounts").alias("amts"))
        .withColumn(
            "merged_amounts",
            F.aggregate(
                "amts",
                F.array(F.lit(0.0), F.lit(0.0)),
                lambda acc, a: F.zip_with(acc, a, lambda x, y: x + y),
            ),
        )
        .drop("amts")
    )


def latest_price_per_token(trades: DataFrame) -> DataFrame:
    """A10 (ch_adapter:572-593): newest price per token — explode the
    (token, price) pairs and max_by over (block, log_index)."""
    order = F.struct(F.col("block_number"), F.col("log_index"))
    pairs = trades.select(
        "block_number",
        "log_index",
        F.explode(F.arrays_zip(
            F.col("token_addresses").alias("token"), F.col("token_prices").alias("price")
        )).alias("z"),
    ).select("block_number", "log_index", F.col("z.token").alias("token_address"), F.col("z.price").alias("price"))
    return pairs.groupBy("token_address").agg(
        F.max_by("price", order).alias("latest_price"),
        F.max("block_number").alias("as_of_block"),
    )


# ---------------------------------------------------------------------------
# Uniswap-V3 family (service/dex/uniswap_v3/uniswap_v3.py re-expressed)
# ---------------------------------------------------------------------------

UNISWAP_V3_ABIS = [
    EventAbi(
        name="Swap",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "recipient", "type": "address", "indexed": True},
            {"name": "amount0", "type": "int256", "indexed": False},
            {"name": "amount1", "type": "int256", "indexed": False},
            {"name": "sqrtPriceX96", "type": "uint160", "indexed": False},
            {"name": "liquidity", "type": "uint128", "indexed": False},
            {"name": "tick", "type": "int24", "indexed": False},
        ],
        namespace="uniswap_v3",
        contract_name="pool",
    ),
    EventAbi(
        name="Mint",
        inputs=[
            {"name": "sender", "type": "address", "indexed": False},
            {"name": "owner", "type": "address", "indexed": True},
            {"name": "tickLower", "type": "int24", "indexed": True},
            {"name": "tickUpper", "type": "int24", "indexed": True},
            {"name": "amount", "type": "uint128", "indexed": False},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
        ],
        namespace="uniswap_v3",
        contract_name="pool",
    ),
    EventAbi(
        name="Burn",
        inputs=[
            {"name": "owner", "type": "address", "indexed": True},
            {"name": "tickLower", "type": "int24", "indexed": True},
            {"name": "tickUpper", "type": "int24", "indexed": True},
            {"name": "amount", "type": "uint128", "indexed": False},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
        ],
        namespace="uniswap_v3",
        contract_name="pool",
    ),
    EventAbi(
        name="Collect",
        inputs=[
            {"name": "owner", "type": "address", "indexed": True},
            {"name": "recipient", "type": "address", "indexed": False},
            {"name": "tickLower", "type": "int24", "indexed": True},
            {"name": "tickUpper", "type": "int24", "indexed": True},
            {"name": "amount0", "type": "uint128", "indexed": False},
            {"name": "amount1", "type": "uint128", "indexed": False},
        ],
        namespace="uniswap_v3",
        contract_name="pool",
    ),
]


def _asof_pool_reserves(
    trades: DataFrame, pool_balances: DataFrame, block_bucket: int = 10_000
) -> DataFrame:
    """As-of lookup: per trade and pool token, the latest balance with
    block_number ≤ trade block (inclusive, like balanceOf at the block).

    Union trick through the SHARED bucketed as-of core (operators/asof.py):
    balance rows and trade probes share one window keyed (holder=pool,
    token, block-bucket) — never the bare pair; a hot v3 pool's entire
    balance history would otherwise land on one window partition at 100×
    scale (VERDICT r3 'what's wrong #2'). ``__tie`` is constant 0 on both
    sides, so ties at the same block resolve marks-before-probes: a balance
    written AT the trade's block counts, the block-granularity semantics of
    the reference's balanceOf point-read (uniswap_v3.py:123-132)."""
    from ethereum_etl_spark.operators.asof import bucketed_asof

    probes = trades.select(
        F.col("pool_address").alias("holder_address"),
        F.explode(
            F.array(
                F.struct(F.col("__t0").alias("token_address"), F.lit(0).alias("slot")),
                F.struct(F.col("__t1").alias("token_address"), F.lit(1).alias("slot")),
            )
        ).alias("pt"),
        F.col("block_number"),
        F.col("transaction_hash"),
        F.col("log_index"),
    ).select(
        "holder_address", F.col("pt.token_address").alias("token_address"),
        F.col("pt.slot").alias("slot"), "block_number", "transaction_hash", "log_index",
    )
    bal = (
        pool_balances.select(
            "holder_address", "token_address", "block_number",
            F.col("value").cast("double").alias("__mark"),
        )
        .withColumn("__tie", F.lit(0).cast("int"))
        .withColumn("__probe", F.lit(0))
        .withColumn("slot", F.lit(None).cast("int"))
        .withColumn("transaction_hash", F.lit(None).cast("string"))
        .withColumn("log_index", F.lit(None).cast("int"))
    )
    pr = (
        probes.withColumn("__tie", F.lit(0).cast("int"))
        .withColumn("__probe", F.lit(1))
        .withColumn("__mark", F.lit(None).cast("double"))
    )
    asof = (
        bucketed_asof(
            bal, pr.select(*bal.columns),
            ["holder_address", "token_address"], block_bucket, tie_col="__tie",
        )
        .select(
            F.col("holder_address").alias("pool_address"),
            "transaction_hash", "log_index", "slot",
            F.coalesce("__asof", F.lit(0.0)).alias("__r"),
        )
    )
    r = asof.groupBy("pool_address", "transaction_hash", "log_index").pivot(
        "slot", [0, 1]
    ).agg(F.first("__r"))
    return trades.join(
        r, on=["pool_address", "transaction_hash", "log_index"], how="left"
    ).withColumn(
        "token_reserves",
        F.array(
            F.coalesce(F.col("0") / F.col("__s0"), F.lit(0.0)),
            F.coalesce(F.col("1") / F.col("__s1"), F.lit(0.0)),
        ),
    ).drop("0", "1")


# ---------------------------------------------------------------------------
# Pool discovery (export_dex_pools_job + per-AMM factory create metadata)
# ---------------------------------------------------------------------------

FACTORY_ABIS = [
    EventAbi(
        name="PairCreated",
        inputs=[
            {"name": "token0", "type": "address", "indexed": True},
            {"name": "token1", "type": "address", "indexed": True},
            {"name": "pair", "type": "address", "indexed": False},
            {"name": "idx", "type": "uint256", "indexed": False},
        ],
        namespace="uniswap_v2",
        contract_name="factory",
    ),
    # Solidly-style stable/volatile pair factory (canto_dex BaseV1Factory,
    # velodrome-family forks): PairCreated carries an extra bool `stable`
    # before the pair address → its OWN topic0, no collision with v2's.
    # NOTE the reference's solidly/UniswapV2Factory.json is the PLAIN v2
    # signature (solidly mainnet) — those factories discover through the v2
    # row and get their label from `factory_amm`; this ABI is the 5-field
    # canto_dex/BaseV1Factory.json shape.
    EventAbi(
        name="PairCreated",
        inputs=[
            {"name": "token0", "type": "address", "indexed": True},
            {"name": "token1", "type": "address", "indexed": True},
            {"name": "stable", "type": "bool", "indexed": False},
            {"name": "pair", "type": "address", "indexed": False},
            {"name": "idx", "type": "uint256", "indexed": False},
        ],
        namespace="solidly",
        contract_name="factory",
    ),
    EventAbi(
        name="PoolCreated",
        inputs=[
            {"name": "token0", "type": "address", "indexed": True},
            {"name": "token1", "type": "address", "indexed": True},
            {"name": "fee", "type": "uint24", "indexed": True},
            {"name": "tickSpacing", "type": "int24", "indexed": False},
            {"name": "pool", "type": "address", "indexed": False},
        ],
        namespace="uniswap_v3",
        contract_name="factory",
    ),
    # Kyber DMM factory (IDMMFactory.json): same event NAME as v3 but its
    # own signature/topic0 — amp factor instead of fee tier
    EventAbi(
        name="PoolCreated",
        inputs=[
            {"name": "token0", "type": "address", "indexed": True},
            {"name": "token1", "type": "address", "indexed": True},
            {"name": "pool", "type": "address", "indexed": False},
            {"name": "ampBps", "type": "uint32", "indexed": False},
            {"name": "totalPool", "type": "uint256", "indexed": False},
        ],
        namespace="dmm",
        contract_name="factory",
    ),
    # TraderJoe LB factory (traderjoe_v2_1/LBFactory.json): binStep doubles
    # as the pair's fee parameter; LB positions are ERC-1155 at the pair
    EventAbi(
        name="LBPairCreated",
        inputs=[
            {"name": "tokenX", "type": "address", "indexed": True},
            {"name": "tokenY", "type": "address", "indexed": True},
            {"name": "binStep", "type": "uint256", "indexed": True},
            {"name": "LBPair", "type": "address", "indexed": False},
            {"name": "pid", "type": "uint256", "indexed": False},
        ],
        namespace="traderjoe_v2_1",
        contract_name="factory",
    ),
    # 1inch mooniswap factory (one_inch/OneInchFactory.json): the pool is
    # its own LP token; token1 may be the zero address (raw ETH side)
    EventAbi(
        name="Deployed",
        inputs=[
            {"name": "mooniswap", "type": "address", "indexed": True},
            {"name": "token1", "type": "address", "indexed": True},
            {"name": "token2", "type": "address", "indexed": True},
        ],
        namespace="one_inch",
        contract_name="factory",
    ),
    # Meshswap factory (meshswap/UniswapV2Factory.json CreatePool): all
    # fields ride the data payload, incl. the per-pool fee
    EventAbi(
        name="CreatePool",
        inputs=[
            {"name": "token0", "type": "address", "indexed": False},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "token1", "type": "address", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
            {"name": "fee", "type": "uint256", "indexed": False},
            {"name": "exchange", "type": "address", "indexed": False},
            {"name": "exid", "type": "uint256", "indexed": False},
        ],
        namespace="meshswap",
        contract_name="factory",
    ),
    # DODO v1 factory (DODOZoo): the birth event CARRIES the pool address.
    # The reference instead RPC-introspects unseen pool addresses
    # (dodo/proxy.py _choose_amm_client + base.py token getters); a lake
    # engine derives the dimension from the factory stream itself.
    EventAbi(
        name="DODOBirth",
        inputs=[
            {"name": "newBorn", "type": "address", "indexed": False},
            {"name": "baseToken", "type": "address", "indexed": False},
            {"name": "quoteToken", "type": "address", "indexed": False},
        ],
        namespace="dodo",
        contract_name="factory",
    ),
    # DODO v2 factories (DVM/DSP/DPP) share the (base, quote, creator,
    # pool) shape; the 4th param is named 'pool' here uniformly (decode
    # names are local — topic0 depends only on the canonical types)
    *[
        EventAbi(
            name=n,
            inputs=[
                {"name": "baseToken", "type": "address", "indexed": False},
                {"name": "quoteToken", "type": "address", "indexed": False},
                {"name": "creator", "type": "address", "indexed": False},
                {"name": "pool", "type": "address", "indexed": False},
            ],
            namespace="dodo_v2",
            contract_name="factory",
        )
        for n in ("NewDVM", "NewDSP", "NewDPP")
    ],
    # Curve factory deployment events carry the COINS but not the pool
    # address (the pool is the contract CREATEd by the same transaction) —
    # discover_pools resolves it by joining the tx's contract creations
    # from the trace stream, the reference's registry-RPC coins() walk
    # (curve.py:96-130) re-expressed lake-side. The canonical signature
    # hashes address[4] as ONE type; the decode lays it out as 4 words.
    EventAbi(
        name="PlainPoolDeployed",
        inputs=[
            {"name": "coin0", "type": "address", "indexed": False},
            {"name": "coin1", "type": "address", "indexed": False},
            {"name": "coin2", "type": "address", "indexed": False},
            {"name": "coin3", "type": "address", "indexed": False},
            {"name": "A", "type": "uint256", "indexed": False},
            {"name": "fee", "type": "uint256", "indexed": False},
            {"name": "deployer", "type": "address", "indexed": False},
        ],
        sig_types=["address[4]", "uint256", "uint256", "address"],
        namespace="curve",
        contract_name="factory",
    ),
    EventAbi(
        name="MetaPoolDeployed",
        inputs=[
            {"name": "coin", "type": "address", "indexed": False},
            {"name": "base_pool", "type": "address", "indexed": False},
            {"name": "A", "type": "uint256", "indexed": False},
            {"name": "fee", "type": "uint256", "indexed": False},
            {"name": "deployer", "type": "address", "indexed": False},
        ],
        namespace="curve",
        contract_name="factory",
    ),
]

NULL_ADDR = "0x" + "0" * 40

# discover_pools output shape (EthDexPool, domain/dex_pool.py:25-34) — the
# streamer materializes an empty frame of this shape for factory-less batches
DISCOVERED_POOL_DDL = (
    "address string, factory_address string, token_addresses array<string>,"
    "fee int, lp_token_addresses array<string>,"
    "underlying_token_addresses array<string>, amm string, block_number long"
)

# extract_dex_trades_combined's output projection — an empty
# frame of this shape stands in when a batch touches no AMM family at all
TRADE_SHAPE_DDL = (
    "block_number long, transaction_hash string, log_index int,"
    "pool_address string, event_type string, token_amounts array<double>,"
    "token_reserves array<double>, token_prices array<double>,"
    "token_addresses array<string>, factory_address string,"
    "wallet_address string, amm string"
)

V2_DEFAULT_FEE = 3000  # DexPoolFeeAmount.MEDIUM (service/dex/enums.py:8)


def discover_pools(
    parsed_logs: DataFrame,
    factory_amm: dict[str, str] | None = None,
    contracts: DataFrame | None = None,
    known_pools: DataFrame | None = None,
) -> DataFrame:
    """Factory create events → dex_pools dimension rows (EthDexPool shape,
    domain/dex_pool.py:25-34 incl. underlying_token_addresses). The
    reference bootstraps pools by RPC introspection per unseen address
    (export_dex_pools_job.py); a lake engine derives the dimension from the
    factory event stream itself:

    - PairCreated (v2; fee fixed at MEDIUM=3000, LP token = the pair) and
      PoolCreated (v3; fee from the event, LP positions are NFTs → the pool
      address stands in, uniswap_v3.py:60-66);
    - DODOBirth (dodo v1) and NewDVM/NewDSP/NewDPP (dodo v2): the event
      carries pool + [base, quote];
    - curve PlainPoolDeployed / MetaPoolDeployed: the event carries the
      COINS but not the pool — the pool is the contract the SAME
      transaction created, resolved by joining ``contracts`` (the trace
      stream's creation rows: address, transaction_hash). Metapools pair
      [coin, base_pool] and expose underlying = [coin] + base pool coins,
      resolved against ``known_pools`` ∪ this batch's plain pools
      (reference curve.py:214-224 enrich_pool_with_metapool_addresses,
      done as a join instead of an RPC walk). Without a ``contracts``
      frame curve deployments are skipped (documented: discovery needs
      the trace stream).

    ``factory_amm``: factory address → amm label (the reference's
    deploys/metadata.json role) — lets v2/v3-shaped FORK factories
    (solidly, sushiswap, quickswap…) label their pools so downstream trade
    attribution inherits the right namespace."""
    pe = F.col("parsed_event")

    def amm_label(default: str):
        if factory_amm:
            fmap = F.create_map(
                *[F.lit(x) for k, v in factory_amm.items() for x in (k.lower(), v)]
            )
            return F.coalesce(fmap[F.lower("contract_address")], F.lit(default))
        return F.lit(default)

    no_underlying = F.lit(None).cast("array<string>")
    # two PairCreated shapes share the name but not the topic0: plain v2
    # (namespace uniswap_v2) and the solidly/canto 5-field stable-pair
    # variant (namespace solidly) — disambiguate on the inventory namespace
    # so neither branch double-emits the other's rows
    is_pair_created = F.col("event_name") == "PairCreated"
    is_solidly = F.array_contains(F.col("namespace"), "solidly")
    v2 = parsed_logs.filter(is_pair_created & ~is_solidly).select(
        F.lower(pe["pair"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["token0"]), F.lower(pe["token1"])).alias("token_addresses"),
        F.lit(V2_DEFAULT_FEE).alias("fee"),
        F.array(F.lower(pe["pair"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("uniswap_v2").alias("amm"),
        F.col("block_number"),
    )
    # solidly/canto stable-pair factories: same pool semantics as v2 (the
    # reference's CantoDexAmm/SolidlyAmm are UniswapV2Amm subclasses, fee
    # MEDIUM) — only the create event differs; stable-ness doesn't change
    # the trade decode (Swap/Mint/Burn share v2's topic0s)
    solidly = parsed_logs.filter(is_pair_created & is_solidly).select(
        F.lower(pe["pair"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["token0"]), F.lower(pe["token1"])).alias("token_addresses"),
        F.lit(V2_DEFAULT_FEE).alias("fee"),
        F.array(F.lower(pe["pair"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("solidly").alias("amm"),
        F.col("block_number"),
    )
    # two PoolCreated shapes share the name but not the topic0 (v3 fee-tier
    # vs DMM amp-factor) — disambiguate on the inventory namespace
    is_pool_created = F.col("event_name") == "PoolCreated"
    is_dmm = F.array_contains(F.col("namespace"), "dmm")
    v3 = parsed_logs.filter(is_pool_created & ~is_dmm).select(
        F.lower(pe["pool"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["token0"]), F.lower(pe["token1"])).alias("token_addresses"),
        pe["fee"].cast("int").alias("fee"),
        F.array(F.lower(pe["pool"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("uniswap_v3").alias("amm"),
        F.col("block_number"),
    )
    # Kyber DMM: v2 pool semantics (LP token = the pool, fee MEDIUM — the
    # reference DMMAmm inherits UniswapV2Amm's pool details)
    dmm = parsed_logs.filter(is_pool_created & is_dmm).select(
        F.lower(pe["pool"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["token0"]), F.lower(pe["token1"])).alias("token_addresses"),
        F.lit(V2_DEFAULT_FEE).alias("fee"),
        F.array(F.lower(pe["pool"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("dmm").alias("amm"),
        F.col("block_number"),
    )
    dodo_v1 = parsed_logs.filter(F.col("event_name") == "DODOBirth").select(
        F.lower(pe["newBorn"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["baseToken"]), F.lower(pe["quoteToken"])).alias("token_addresses"),
        F.lit(0).alias("fee"),
        F.array(F.lower(pe["newBorn"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("dodo").alias("amm"),
        F.col("block_number"),
    )
    dodo_v2 = parsed_logs.filter(
        F.col("event_name").isin("NewDVM", "NewDSP", "NewDPP")
    ).select(
        F.lower(pe["pool"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["baseToken"]), F.lower(pe["quoteToken"])).alias("token_addresses"),
        F.lit(0).alias("fee"),
        F.array(F.lower(pe["pool"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("dodo_v2").alias("amm"),
        F.col("block_number"),
    )
    lb = parsed_logs.filter(F.col("event_name") == "LBPairCreated").select(
        F.lower(pe["LBPair"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["tokenX"]), F.lower(pe["tokenY"])).alias("token_addresses"),
        pe["binStep"].try_cast("int").alias("fee"),
        F.array(F.lower(pe["LBPair"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("traderjoe_v2_1").alias("amm"),
        F.col("block_number"),
    )
    oi = parsed_logs.filter(F.col("event_name") == "Deployed").select(
        F.lower(pe["mooniswap"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["token1"]), F.lower(pe["token2"])).alias("token_addresses"),
        F.lit(0).alias("fee"),
        F.array(F.lower(pe["mooniswap"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("one_inch").alias("amm"),
        F.col("block_number"),
    )
    mesh = parsed_logs.filter(F.col("event_name") == "CreatePool").select(
        F.lower(pe["exchange"]).alias("address"),
        F.col("contract_address").alias("factory_address"),
        F.array(F.lower(pe["token0"]), F.lower(pe["token1"])).alias("token_addresses"),
        pe["fee"].try_cast("int").alias("fee"),
        F.array(F.lower(pe["exchange"])).alias("lp_token_addresses"),
        no_underlying.alias("underlying_token_addresses"),
        amm_label("meshswap").alias("amm"),
        F.col("block_number"),
    )
    out = (
        v2.unionByName(solidly)
        .unionByName(v3)
        .unionByName(dmm)
        .unionByName(lb)
        .unionByName(oi)
        .unionByName(mesh)
        .unionByName(dodo_v1)
        .unionByName(dodo_v2)
    )

    if contracts is not None:
        created = F.broadcast(
            contracts.select(
                F.col("transaction_hash"),
                F.lower(F.col("address")).alias("__created"),
            ).dropDuplicates(["transaction_hash"])
        )
        plain_ev = parsed_logs.filter(
            F.col("event_name") == "PlainPoolDeployed"
        ).join(created, on="transaction_hash", how="inner")
        coins = F.filter(
            F.array(*[F.lower(pe[f"coin{i}"]) for i in range(4)]),
            lambda c: c.isNotNull() & (c != NULL_ADDR),
        )
        plain = plain_ev.select(
            F.col("__created").alias("address"),
            F.col("contract_address").alias("factory_address"),
            coins.alias("token_addresses"),
            pe["fee"].try_cast("int").alias("fee"),
            F.array(F.col("__created")).alias("lp_token_addresses"),
            no_underlying.alias("underlying_token_addresses"),
            amm_label("curve").alias("amm"),
            F.col("block_number"),
        )
        meta_ev = parsed_logs.filter(
            F.col("event_name") == "MetaPoolDeployed"
        ).join(created, on="transaction_hash", how="inner")
        # base-pool coins: committed pools ∪ plain pools from this batch
        base_src = plain.select("address", "token_addresses")
        if known_pools is not None:
            base_src = known_pools.select("address", "token_addresses").unionByName(base_src)
        base = F.broadcast(
            base_src.withColumnRenamed("address", "__base")
            .withColumnRenamed("token_addresses", "__base_coins")
            .dropDuplicates(["__base"])
        )
        meta = (
            meta_ev.withColumn("__base", F.lower(pe["base_pool"]))
            .join(base, on="__base", how="left")
            .select(
                F.col("__created").alias("address"),
                F.col("contract_address").alias("factory_address"),
                F.array(F.lower(pe["coin"]), F.col("__base")).alias("token_addresses"),
                pe["fee"].try_cast("int").alias("fee"),
                F.array(F.col("__created")).alias("lp_token_addresses"),
                F.concat(
                    F.array(F.lower(pe["coin"])),
                    F.coalesce("__base_coins", F.array().cast("array<string>")),
                ).alias("underlying_token_addresses"),
                amm_label("curve").alias("amm"),
                F.col("block_number"),
            )
        )
        out = out.unionByName(plain).unionByName(meta)
    return out


# ---------------------------------------------------------------------------
# Balancer-V2 family (service/dex/balancer/balancer.py re-expressed)
# ---------------------------------------------------------------------------

BALANCER_V2_ABIS = [
    EventAbi(
        name="Swap",
        inputs=[
            {"name": "poolId", "type": "bytes32", "indexed": True},
            {"name": "tokenIn", "type": "address", "indexed": True},
            {"name": "tokenOut", "type": "address", "indexed": True},
            {"name": "amountIn", "type": "uint256", "indexed": False},
            {"name": "amountOut", "type": "uint256", "indexed": False},
        ],
        namespace="balancer_v2",
        contract_name="vault",
    ),
]


# Curve stable-swap pools (reference service/dex/curve/curve.py:36-47 event
# enum; CurvePoolv1.json ABI): N-coin pools address their legs by COIN INDEX
# (int128 sold_id/bought_id), resolved against the pool's coin array —
# structurally different from the 2-token pair families above.
CURVE_ABIS = [
    EventAbi(
        name="TokenExchange",
        inputs=[
            {"name": "buyer", "type": "address", "indexed": True},
            {"name": "sold_id", "type": "int128", "indexed": False},
            {"name": "tokens_sold", "type": "uint256", "indexed": False},
            {"name": "bought_id", "type": "int128", "indexed": False},
            {"name": "tokens_bought", "type": "uint256", "indexed": False},
        ],
        namespace="curve",
        contract_name="pool",
    ),
    EventAbi(
        name="TokenExchangeUnderlying",
        inputs=[
            {"name": "buyer", "type": "address", "indexed": True},
            {"name": "sold_id", "type": "int128", "indexed": False},
            {"name": "tokens_sold", "type": "uint256", "indexed": False},
            {"name": "bought_id", "type": "int128", "indexed": False},
            {"name": "tokens_bought", "type": "uint256", "indexed": False},
        ],
        namespace="curve",
        contract_name="pool",
    ),
]


# Saddle stable-swap pools (reference service/dex/saddle/saddle.py:77-129,
# SaddlePoolV2.json — shipped factory-commented, dex_client_factory.py:55):
# curve-shaped coin-index pools with their OWN event signatures —
# TokenSwap/TokenSwapUnderlying carry (tokensSold, tokensBought, soldId,
# boughtId) with UNSIGNED uint128 indices, unlike curve's
# (sold_id, tokens_sold, bought_id, tokens_bought) int128 layout. Ellipsis
# (service/dex/ellipsis/) is a CurveAmm subclass with byte-identical events
# — it needs no ABI of its own, only a `factory_amm`/pool-dim label.
SADDLE_ABIS = [
    EventAbi(
        name="TokenSwap",
        inputs=[
            {"name": "buyer", "type": "address", "indexed": True},
            {"name": "tokensSold", "type": "uint256", "indexed": False},
            {"name": "tokensBought", "type": "uint256", "indexed": False},
            {"name": "soldId", "type": "uint128", "indexed": False},
            {"name": "boughtId", "type": "uint128", "indexed": False},
        ],
        namespace="saddle",
        contract_name="pool",
    ),
    EventAbi(
        name="TokenSwapUnderlying",
        inputs=[
            {"name": "buyer", "type": "address", "indexed": True},
            {"name": "tokensSold", "type": "uint256", "indexed": False},
            {"name": "tokensBought", "type": "uint256", "indexed": False},
            {"name": "soldId", "type": "uint128", "indexed": False},
            {"name": "boughtId", "type": "uint128", "indexed": False},
        ],
        namespace="saddle",
        contract_name="pool",
    ),
]


# DODO v1 pools (reference service/dex/dodo/contracts_v1.py:19-31,195-214):
# the pool holds an ordered [base, quote] pair and swaps are expressed as
# buy/sell of the BASE token rather than in/out amounts.
DODO_ABIS = [
    EventAbi(
        name="BuyBaseToken",
        inputs=[
            {"name": "buyer", "type": "address", "indexed": True},
            {"name": "receiveBase", "type": "uint256", "indexed": False},
            {"name": "payQuote", "type": "uint256", "indexed": False},
        ],
        namespace="dodo",
        contract_name="pool",
    ),
    EventAbi(
        name="SellBaseToken",
        inputs=[
            {"name": "seller", "type": "address", "indexed": True},
            {"name": "payBase", "type": "uint256", "indexed": False},
            {"name": "receiveQuote", "type": "uint256", "indexed": False},
        ],
        namespace="dodo",
        contract_name="pool",
    ),
]


DODO_V2_ABIS = [
    # reference service/dex/dodo/contracts_v2.py:20-24 + DVM.json: DVM/DPP/
    # DSP pools share the DODOSwap shape; topic0 matches the reference's
    # documented DSP swap hash (contracts_v2.py:52 docstring)
    EventAbi(
        name="DODOSwap",
        inputs=[
            {"name": "fromToken", "type": "address", "indexed": False},
            {"name": "toToken", "type": "address", "indexed": False},
            {"name": "fromAmount", "type": "uint256", "indexed": False},
            {"name": "toAmount", "type": "uint256", "indexed": False},
            {"name": "trader", "type": "address", "indexed": False},
            {"name": "receiver", "type": "address", "indexed": False},
        ],
        namespace="dodo_v2",
        contract_name="pool",
    ),
]


# TraderJoe v2.1 Liquidity-Book pairs (reference traderjoe_v2_1.py +
# LBPair.json): swap amounts are TWO uint128s PACKED into one bytes32 —
# low 128 bits = token X (slot 0), high 128 bits = token Y (slot 1)
# (decode_amounts, traderjoe_v2_1.py:68-82). Structurally the one decode the
# static word path can't express without byte slicing.
TRADERJOE_ABIS = [
    EventAbi(
        name="Swap",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "to", "type": "address", "indexed": True},
            {"name": "id", "type": "uint24", "indexed": False},
            {"name": "amountsIn", "type": "bytes32", "indexed": False},
            {"name": "amountsOut", "type": "bytes32", "indexed": False},
            {"name": "volatilityAccumulator", "type": "uint24", "indexed": False},
            {"name": "totalFees", "type": "bytes32", "indexed": False},
            {"name": "protocolFees", "type": "bytes32", "indexed": False},
        ],
        namespace="traderjoe_v2_1",
        contract_name="lb_pair",
    ),
    EventAbi(
        name="DepositedToBins",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "to", "type": "address", "indexed": True},
            {"name": "ids", "type": "uint256[]", "indexed": False},
            {"name": "amounts", "type": "bytes32[]", "indexed": False},
        ],
        namespace="traderjoe_v2_1",
        contract_name="lb_pair",
    ),
    EventAbi(
        name="WithdrawnFromBins",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "to", "type": "address", "indexed": True},
            {"name": "ids", "type": "uint256[]", "indexed": False},
            {"name": "amounts", "type": "bytes32[]", "indexed": False},
        ],
        namespace="traderjoe_v2_1",
        contract_name="lb_pair",
    ),
]


ONE_INCH_ABIS = [
    # reference one_inch/OneInchPool.json Swapped
    EventAbi(
        name="Swapped",
        inputs=[
            {"name": "account", "type": "address", "indexed": True},
            {"name": "src", "type": "address", "indexed": True},
            {"name": "dst", "type": "address", "indexed": True},
            {"name": "amount", "type": "uint256", "indexed": False},
            {"name": "result", "type": "uint256", "indexed": False},
            {"name": "srcBalance", "type": "uint256", "indexed": False},
            {"name": "dstBalance", "type": "uint256", "indexed": False},
            {"name": "totalSupply", "type": "uint256", "indexed": False},
            {"name": "referral", "type": "address", "indexed": False},
        ],
        namespace="one_inch",
        contract_name="pool",
    ),
]


SUSHI_BENTO_ABIS = [
    # reference sushiswap_bento/Pool.json (Trident constant-product pool):
    # v2 semantics but in/out-keyed Swap and uint256 Sync (≠ v2's uint112 —
    # different topic0, no inventory collision)
    EventAbi(
        name="Swap",
        inputs=[
            {"name": "recipient", "type": "address", "indexed": True},
            {"name": "tokenIn", "type": "address", "indexed": True},
            {"name": "tokenOut", "type": "address", "indexed": True},
            {"name": "amountIn", "type": "uint256", "indexed": False},
            {"name": "amountOut", "type": "uint256", "indexed": False},
        ],
        namespace="sushiswap_bento",
        contract_name="pool",
    ),
    EventAbi(
        name="Sync",
        inputs=[
            {"name": "reserve0", "type": "uint256", "indexed": False},
            {"name": "reserve1", "type": "uint256", "indexed": False},
        ],
        namespace="sushiswap_bento",
        contract_name="pool",
    ),
    EventAbi(
        name="Mint",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
            {"name": "recipient", "type": "address", "indexed": True},
        ],
        namespace="sushiswap_bento",
        contract_name="pool",
    ),
    # NO Burn ABI: Trident's Burn(address,uint256,uint256,address) is
    # byte-identical to uniswap v2's Burn → SAME topic0/topic_count. A
    # second inventory row would fan every Burn log out twice (the
    # kyberswap_elastic rule) — bento Burns decode through the v2 row and
    # are attributed via the pool dimension's amm label like every fork.
]


_WOMBAT_LIQ_INPUTS = [
    {"name": "sender", "type": "address", "indexed": True},
    {"name": "token", "type": "address", "indexed": False},
    {"name": "amount", "type": "uint256", "indexed": False},
    {"name": "liquidity", "type": "uint256", "indexed": False},
    {"name": "to", "type": "address", "indexed": True},
]

WOMBAT_ABIS = [
    # reference wombat/Pool.json Swap — byte-identical to the platypus
    # PoolSecondary.json events (platypus ships factory-commented in the
    # reference; its pools ride this decode with pool-amm attribution)
    EventAbi(
        name="Swap",
        inputs=[
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "fromToken", "type": "address", "indexed": False},
            {"name": "toToken", "type": "address", "indexed": False},
            {"name": "fromAmount", "type": "uint256", "indexed": False},
            {"name": "toAmount", "type": "uint256", "indexed": False},
            {"name": "to", "type": "address", "indexed": True},
        ],
        namespace="wombat",
        contract_name="pool",
    ),
    # wombat/Pool.json Deposit/Withdraw (wombat.py:115-129, 256-302):
    # one-sided liquidity legs in POOL token order
    EventAbi(name="Deposit", inputs=_WOMBAT_LIQ_INPUTS,
             namespace="wombat", contract_name="pool"),
    EventAbi(name="Withdraw", inputs=_WOMBAT_LIQ_INPUTS,
             namespace="wombat", contract_name="pool"),
]


# Bancor v2 converters (reference service/dex/bancor_v2/bancor_v2.py —
# factory-commented dead code, re-expressed for coverage beyond the live
# surface; event shapes from BancorConverter.json/StandardPoolConverter.json)
BANCOR_V2_ABIS = [
    EventAbi(
        name="Conversion",
        inputs=[
            {"name": "_fromToken", "type": "address", "indexed": True},
            {"name": "_toToken", "type": "address", "indexed": True},
            {"name": "_trader", "type": "address", "indexed": True},
            {"name": "_amount", "type": "uint256", "indexed": False},
            {"name": "_return", "type": "uint256", "indexed": False},
            {"name": "_conversionFee", "type": "int256", "indexed": False},
        ],
        namespace="bancor_v2",
        contract_name="converter",
    ),
    EventAbi(
        name="LiquidityAdded",
        inputs=[
            {"name": "_provider", "type": "address", "indexed": True},
            {"name": "_reserveToken", "type": "address", "indexed": True},
            {"name": "_amount", "type": "uint256", "indexed": False},
            {"name": "_newBalance", "type": "uint256", "indexed": False},
            {"name": "_newSupply", "type": "uint256", "indexed": False},
        ],
        namespace="bancor_v2",
        contract_name="converter",
    ),
    EventAbi(
        name="LiquidityRemoved",
        inputs=[
            {"name": "_provider", "type": "address", "indexed": True},
            {"name": "_reserveToken", "type": "address", "indexed": True},
            {"name": "_amount", "type": "uint256", "indexed": False},
            {"name": "_newBalance", "type": "uint256", "indexed": False},
            {"name": "_newSupply", "type": "uint256", "indexed": False},
        ],
        namespace="bancor_v2",
        contract_name="converter",
    ),
]


CARBON_ABIS = [
    # reference carbondefi/CarbonController.json TokensTraded
    EventAbi(
        name="TokensTraded",
        inputs=[
            {"name": "trader", "type": "address", "indexed": True},
            {"name": "sourceToken", "type": "address", "indexed": True},
            {"name": "targetToken", "type": "address", "indexed": True},
            {"name": "sourceAmount", "type": "uint256", "indexed": False},
            {"name": "targetAmount", "type": "uint256", "indexed": False},
            {"name": "tradingFeeAmount", "type": "uint128", "indexed": False},
            {"name": "byTargetAmount", "type": "bool", "indexed": False},
        ],
        namespace="carbondefi",
        contract_name="controller",
    ),
]


FJORD_ABIS = [
    # reference fjord/Pool.json Buy/Sell
    EventAbi(
        name="Buy",
        inputs=[
            {"name": "caller", "type": "address", "indexed": True},
            {"name": "assets", "type": "uint256", "indexed": False},
            {"name": "shares", "type": "uint256", "indexed": False},
            {"name": "swapFee", "type": "uint256", "indexed": False},
        ],
        namespace="fjord",
        contract_name="lbp",
    ),
    EventAbi(
        name="Sell",
        inputs=[
            {"name": "caller", "type": "address", "indexed": True},
            {"name": "shares", "type": "uint256", "indexed": False},
            {"name": "assets", "type": "uint256", "indexed": False},
            {"name": "swapFee", "type": "uint256", "indexed": False},
        ],
        namespace="fjord",
        contract_name="lbp",
    ),
]


# ---------------------------------------------------------------------------
# Meshswap family (service/dex/meshswap/meshswap.py re-expressed)
# ---------------------------------------------------------------------------

MESHSWAP_ABIS = [
    # reference meshswap/Pool.json: swap is ExchangePos/ExchangeNeg with the
    # SOLD token named in the event; liquidity is AddLiquidity/RemoveLiquidity
    # (meshswap.py:22 MINT_EVENTS + event_resolver :28-34). All params are
    # non-indexed (single-topic events).
    EventAbi(
        name="ExchangePos",
        inputs=[
            {"name": "token0", "type": "address", "indexed": False},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "token1", "type": "address", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
        ],
        namespace="meshswap",
        contract_name="pair",
    ),
    EventAbi(
        name="ExchangeNeg",
        inputs=[
            {"name": "token0", "type": "address", "indexed": False},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "token1", "type": "address", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
        ],
        namespace="meshswap",
        contract_name="pair",
    ),
    EventAbi(
        name="AddLiquidity",
        inputs=[
            {"name": "user", "type": "address", "indexed": False},
            {"name": "token0", "type": "address", "indexed": False},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "token1", "type": "address", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
            {"name": "liquidity", "type": "uint256", "indexed": False},
        ],
        namespace="meshswap",
        contract_name="pair",
    ),
    EventAbi(
        name="RemoveLiquidity",
        inputs=[
            {"name": "user", "type": "address", "indexed": False},
            {"name": "token0", "type": "address", "indexed": False},
            {"name": "amount0", "type": "uint256", "indexed": False},
            {"name": "token1", "type": "address", "indexed": False},
            {"name": "amount1", "type": "uint256", "indexed": False},
            {"name": "liquidity", "type": "uint256", "indexed": False},
        ],
        namespace="meshswap",
        contract_name="pair",
    ),
    # NO Sync ABI: meshswap's Sync(uint112,uint112) is byte-identical to
    # uniswap v2's Sync -> SAME topic0/topic_count (the bento-Burn rule).
    # Meshswap Syncs decode through the v2 inventory row; the combined
    # extractor reads them via the uniswap_v2 namespace.
]
