"""Change-event WAL: deterministic distributed generator + range tailer.

The engine's only streaming input is an ordered table of change events
(FIXTURES.md §0): ``(seq, block_number, block_hash, entity_type, op,
payload-json)``. This mirrors the reference's treatment of the chain head as
a WAL polled in block ranges (/root/reference/blockchainetl/streaming/
streamer.py:90-157); ``seq`` is the WAL position (monotone), ``block_number``
the entity's chain position (reorg rows re-emit an old block_number at a
later seq).

Generation is FULLY DISTRIBUTED (spark.range → columnar expressions →
to_json), no driver-side loops — at 10^10 events the generator itself must
scale like the engine. Determinism: every field is a pure column function of
(block_number, index, seed); hashes are sha2 of seeded strings.

Skew realism: a configurable fraction of logs hit one hot token contract
(the high-volume DEX pair of the north_star) to exercise salted/AQE skew
handling downstream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
HOT_TOKEN = "0x" + "beef" * 10


def _h(prefix, *cols) -> F.Column:
    """Deterministic 0x-hex id: sha256 of seeded string parts."""
    return F.concat(
        F.lit("0x"), F.sha2(F.concat_ws(":", F.lit(prefix), *cols), 256)
    )


def _addr(prefix, salt) -> F.Column:
    """Deterministic address (0x + 40 hex)."""
    return F.concat(
        F.lit("0x"),
        F.substring(F.sha2(F.concat_ws(":", F.lit(prefix), salt.cast("string")), 256), 1, 40),
    )


def _word_from(col) -> F.Column:
    """64-hex-char ABI word encoding of a long column."""
    return F.lpad(F.lower(F.hex(col.cast("long"))), 64, "0")


def _addr_word(addr_col) -> F.Column:
    return F.lpad(F.substring(addr_col, 3, 40), 64, "0")


@dataclass
class ChainWalSpec:
    start_block: int = 0
    end_block: int = 99  # inclusive
    txs_per_block: int = 4
    logs_per_tx: int = 2
    seed: str = "42"
    hot_fraction_pct: int = 60  # % of transfer logs on HOT_TOKEN
    reorg_blocks: tuple[int, ...] = ()  # blocks re-emitted with fork hashes
    fork_tag: str = "fork1"
    # additive schema evolution: blocks >= this number carry the late
    # protocol fields (withdrawals_root, blob_gas_used); earlier payloads
    # omit them entirely (to_json drops nulls) — SURVEY §1.3
    evolve_at_block: int | None = None
    # fork rows for block B enter the WAL at seq position of block
    # B + reorg_lag — a reorg is detected a confirmation depth later and
    # lands INSIDE ongoing traffic, not as a degenerate tail batch
    reorg_lag: int = 50
    # shift applied to the fork chain's address/holder salts: with 0 the
    # fork's transactions touch the SAME keys as the orphaned originals
    # (hash-only reorg); non-zero models the real-chain case of dropped
    # transactions — keys touched ONLY by the orphaned block exist, which
    # the balance repair must still find (ADVICE r2)
    fork_key_shift: int = 0
    # opt-in DEX traffic: factory PairCreated logs (pool discovery) early in
    # the chain, then per-block Sync+Swap pairs on those pools — drives the
    # streamer's dex_pools/dex_trades entities. Off by default so the
    # non-dex entity counts stay stable.
    dex_pools: int = 0
    # opt-in multi-family traffic on top of dex_pools: curve
    # PlainPoolDeployed (the pool address rides the SAME tx's CREATE trace
    # — tx0 of the deploy block becomes a CREATE of the pool contract),
    # DODOBirth (v1) and NewDVM (v2) factory events, then per-block
    # TokenExchange / Buy/SellBaseToken / DODOSwap swaps. Drives
    # factory-event pool DISCOVERY end-to-end in the streamer (VERDICT r4
    # item 1: no fabricated dims).
    dex_families: bool = False
    # opt-in curve METApool traffic on top of dex_families: tx1 of each
    # deploy block CREATEs a metapool contract and emits MetaPoolDeployed
    # (coin = utok(n), base_pool = the SAME block's plain pool), then
    # per-block TokenExchangeUnderlying swaps sell the underlying coin.
    # Exercises metapool discovery (underlying = [coin] + base coins) AND
    # the streamer's tok_probe underlying explode (ADVICE r3): the sold
    # leg's decimals (utok = 9) resolve only if the token dim semi-join
    # probes the pool's UNDERLYING addresses, not just its top-level pair.
    dex_metapools: bool = False
    # opt-in Kyber DMM traffic on top of dex_families: factory PoolCreated
    # (amp-factor shape, own topic0) at deploy blocks, then per-block
    # 4-word Sync + DMM Swap + a v2-topic0 Mint on the SAME dmm pool —
    # the Mint exercises the cross-namespace reserve coupling (v2-branch
    # rows reading a dmm Sync mark) end-to-end in the streamer.
    dex_dmm: bool = False


def _blocks_df(spark: SparkSession, spec: ChainWalSpec, fork_of: DataFrame | None = None):
    """Raw block rows as columns (not yet enveloped)."""
    if fork_of is None:
        r = spark.range(spec.start_block, spec.end_block + 1).withColumnRenamed("id", "number")
        tag = F.lit(spec.seed)
    else:
        r = fork_of
        tag = F.concat(F.lit(spec.seed), F.lit(":"), F.lit(spec.fork_tag))
    n = F.col("number")
    return r.select(
        n.alias("number"),
        _h("blk", tag, n).alias("hash"),
        _h("blk", tag, n - 1).alias("parent_hash"),
        F.lower(F.hex(n * 7 + 1)).alias("nonce"),
        _addr("miner", n % 50).alias("miner"),
        (F.lit(2) * n + 100).cast("string").alias("difficulty"),
        (n * n + 1000).cast("string").alias("total_difficulty"),
        (F.lit(500) + n % 100).alias("size"),
        F.lit("0x").alias("extra_data"),
        F.lit(30_000_000).alias("gas_limit"),
        (F.lit(21000) * spec.txs_per_block).alias("gas_used"),
        (F.lit(1_600_000_000) + n * 12).alias("timestamp"),
        F.lit(spec.txs_per_block).cast("long").alias("transaction_count"),
        (F.lit(7) + n % 13).alias("base_fee_per_gas"),
        *(
            [
                F.when(n >= spec.evolve_at_block, _h("wroot", tag, n)).alias("withdrawals_root"),
                F.when(n >= spec.evolve_at_block, n % 6 * 131072).alias("blob_gas_used"),
            ]
            if spec.evolve_at_block is not None
            else []
        ),
    )


def _tx_df(spark: SparkSession, spec: ChainWalSpec, blocks: DataFrame, key_shift: int = 0):
    b = blocks.select("number", "hash", "timestamp")
    return (
        b.withColumn("transaction_index", F.explode(F.sequence(F.lit(0), F.lit(spec.txs_per_block - 1))))
        .select(
            _h("tx", F.col("hash"), F.col("transaction_index")).alias("hash"),
            (F.col("number") * spec.txs_per_block + F.col("transaction_index")).alias("nonce"),
            F.col("hash").alias("block_hash"),
            F.col("number").alias("block_number"),
            F.col("transaction_index").cast("int").alias("transaction_index"),
            _addr("from", (F.col("number") * 13 + F.col("transaction_index") + key_shift) % 1000).alias("from_address"),
            F.when(
                (F.col("number") + F.col("transaction_index")) % 17 == 0, F.lit(None)
            ).otherwise(_addr("to", (F.col("number") * 7 + F.col("transaction_index") + key_shift) % 500)).alias("to_address"),
            F.concat(F.lit("0x"), F.lower(F.hex((F.col("number") % 100 + 1) * 1_000_000_000))).alias("value"),
            F.lit(90000).alias("gas"),
            F.concat(F.lit("0x"), F.lower(F.hex(F.lit(20_000_000_000) + F.col("number") % 5))).alias("gas_price"),
            F.lit("0x").alias("input"),
            F.col("timestamp").alias("block_timestamp"),
            (F.lit(30) + F.col("number") % 3).alias("max_fee_per_gas"),
            F.lit(2).alias("max_priority_fee_per_gas"),
            (F.col("transaction_index") % 3).cast("int").alias("transaction_type"),
        )
    )


def _receipt_df(spec: ChainWalSpec, txs: DataFrame):
    t = txs
    return t.select(
        F.col("hash").alias("transaction_hash"),
        F.col("transaction_index"),
        F.col("block_hash"),
        F.col("block_number"),
        ((F.col("transaction_index") + 1) * 21000).alias("cumulative_gas_used"),
        F.lit(21000).alias("gas_used"),
        F.when(
            (F.col("block_number") * spec.txs_per_block + F.col("transaction_index")) % 29 == 0,
            _addr("contract", F.col("block_number") * 100 + F.col("transaction_index")),
        ).alias("contract_address"),
        F.lit(None).cast("string").alias("root"),
        F.when((F.col("block_number") + F.col("transaction_index")) % 23 == 0, 0)
        .otherwise(1)
        .cast("int")
        .alias("status"),
        F.concat(F.lit("0x"), F.lower(F.hex(F.lit(19_000_000_000)))).alias("effective_gas_price"),
        F.lit(spec.logs_per_tx).cast("int").alias("logs_count"),
    )


def _log_df(spec: ChainWalSpec, txs: DataFrame, key_shift: int = 0):
    """ERC-20 Transfer logs; hot-key skew on token address."""
    t = txs.withColumn(
        "li", F.explode(F.sequence(F.lit(0), F.lit(spec.logs_per_tx - 1)))
    )
    seqno = F.col("block_number") * 1000 + F.col("transaction_index") * 10 + F.col("li")
    # hash-dispersed hot-key assignment (plain modulo degenerates when
    # txs_per_block/logs_per_tx are small multiples of 10)
    token = F.when(
        F.pmod(F.xxhash64(seqno), F.lit(100)) < spec.hot_fraction_pct, F.lit(HOT_TOKEN)
    ).otherwise(_addr("token", seqno % 37))
    from_a = _addr("holder", (seqno + key_shift) % 211)
    to_a = _addr("holder", (seqno + 1 + key_shift) % 211)
    value_word = _word_from((seqno % 1000 + 1) * F.lit(1_000_000))
    return t.select(
        (F.col("transaction_index") * spec.logs_per_tx + F.col("li")).cast("int").alias("log_index"),
        F.col("hash").alias("transaction_hash"),
        F.col("transaction_index"),
        F.col("block_hash"),
        F.col("block_number"),
        token.alias("address"),
        F.concat(F.lit("0x"), value_word).alias("data"),
        F.array(
            F.lit(TRANSFER_TOPIC),
            F.concat(F.lit("0x"), _addr_word(from_a)),
            F.concat(F.lit("0x"), _addr_word(to_a)),
        ).alias("topics"),
    )


_ERC20_PROLOGUE = "6080604052"
# dispatcher-style runtime bytecode with the six EIP-20 selectors PUSH4'd in
# basic block 0 (see operators/contracts.py); deterministic literal
ERC20_BYTECODE = (
    "0x" + _ERC20_PROLOGUE
    + "6318160ddd"  # totalSupply()
    + "6370a08231"  # balanceOf(address)
    + "63a9059cbb"  # transfer(address,uint256)
    + "6323b872dd"  # transferFrom(address,address,uint256)
    + "63095ea7b3"  # approve(address,uint256)
    + "63dd62ed3e"  # allowance(address,address)
    + "00"
)
PLAIN_BYTECODE = "0x" + _ERC20_PROLOGUE + "63deadbeef" + "00"


def _geth_trace_df(spec: "ChainWalSpec", txs: DataFrame):
    """Per-tx geth call tree JSON. Most txs: root CALL with one child
    STATICCALL (child errors every 13th tx — exercises status inheritance);
    every 29th tx: root CREATE with ERC-20-ish or plain output bytecode."""
    t = txs
    gtx = F.col("block_number") * spec.txs_per_block + F.col("transaction_index")
    hx = lambda c: F.concat(F.lit("0x"), F.lower(F.hex(c)))  # noqa: E731
    child = F.struct(
        F.lit("STATICCALL").alias("type"),
        F.col("to_address").alias("from"),
        _addr("inner", gtx % 77).alias("to"),
        hx(gtx % 3 + 1).alias("value"),
        F.lit("0x100").alias("gas"),
        F.lit("0xff").alias("gasUsed"),
        F.when(gtx % 13 == 0, F.lit("out of gas")).alias("error"),
    )
    tree_call = F.to_json(
        F.struct(
            F.lit("CALL").alias("type"),
            F.col("from_address").alias("from"),
            F.coalesce(F.col("to_address"), _addr("fallback", gtx % 5)).alias("to"),
            F.col("value").alias("value"),
            hx(F.lit(90000)).alias("gas"),
            hx(F.lit(21000)).alias("gasUsed"),
            F.lit("0x").alias("input"),
            F.lit("0x").alias("output"),
            F.array(child).alias("calls"),
        )
    )
    tree_create = F.to_json(
        F.struct(
            F.lit("CREATE").alias("type"),
            F.col("from_address").alias("from"),
            _addr("contract", F.col("block_number") * 100 + F.col("transaction_index")).alias("to"),
            hx(F.lit(500000)).alias("gas"),
            hx(F.lit(350000)).alias("gasUsed"),
            F.when(gtx % 58 == 0, F.lit(ERC20_BYTECODE)).otherwise(F.lit(PLAIN_BYTECODE)).alias("output"),
        )
    )
    tree = F.when(gtx % 29 == 0, tree_create).otherwise(tree_call)
    if spec.dex_families and spec.dex_pools > 0:
        # tx0 of each curve-deploy block CREATEs the pool contract — the
        # PlainPoolDeployed log (same tx) carries coins but NOT the pool
        # address; discovery joins the two (discover_pools contracts=)
        curve_create = F.to_json(
            F.struct(
                F.lit("CREATE").alias("type"),
                F.col("from_address").alias("from"),
                _addr("curvepool", F.col("block_number")).alias("to"),
                hx(F.lit(500000)).alias("gas"),
                hx(F.lit(350000)).alias("gasUsed"),
                F.lit(PLAIN_BYTECODE).alias("output"),
            )
        )
        tree = F.when(
            (F.col("block_number") < spec.dex_pools)
            & (F.col("transaction_index") == 0),
            curve_create,
        ).otherwise(tree)
        if spec.dex_metapools:
            # tx1 of each deploy block CREATEs the metapool contract the
            # same tx's MetaPoolDeployed log omits
            meta_create = F.to_json(
                F.struct(
                    F.lit("CREATE").alias("type"),
                    F.col("from_address").alias("from"),
                    _addr("curvemeta", F.col("block_number")).alias("to"),
                    hx(F.lit(500000)).alias("gas"),
                    hx(F.lit(350000)).alias("gasUsed"),
                    F.lit(PLAIN_BYTECODE).alias("output"),
                )
            )
            tree = F.when(
                (F.col("block_number") < spec.dex_pools)
                & (F.col("transaction_index") == 1),
                meta_create,
            ).otherwise(tree)
    return t.select(
        F.col("hash").alias("transaction_hash"),
        F.col("block_number"),
        F.col("block_hash"),
        tree.alias("transaction_traces"),
    )


DEX_STABLE = "0x" + "22" * 20  # token0 of every generated pool (stablecoin)


def _dex_log_df(
    spark: SparkSession, spec: "ChainWalSpec", txs: DataFrame, shift: int = 0
):
    """Opt-in DEX traffic as extra log rows: PairCreated (pool p at block p)
    + per-block Sync/Swap on pool (block % dex_pools). Log indexes start at
    100 so they never collide with the transfer logs. ``shift`` perturbs the
    swap amounts — passed as fork_key_shift for the fork chain so re-emitted
    trades are genuinely DIFFERENT trades (prices change across the reorg,
    which the post-reorg trade re-pricing must propagate)."""
    from ethereum_etl_spark.operators.dex import FACTORY_ABIS, UNISWAP_V2_ABIS

    PAIR, SWAP, SYNC = FACTORY_ABIS[0], UNISWAP_V2_ABIS[0], UNISWAP_V2_ABIS[1]
    tx0 = txs.filter(F.col("transaction_index") == 0).select(
        F.col("hash").alias("transaction_hash"),
        F.col("block_hash"),
        F.col("block_number"),
    )
    n = F.col("block_number")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    pool_addr = lambda k: _addr("dexpool", k)  # noqa: E731
    tok1 = lambda k: _addr("dtok", k)  # noqa: E731

    created = tx0.filter(n < spec.dex_pools).select(
        F.lit(100).alias("log_index"),
        "transaction_hash",
        F.lit(0).alias("transaction_index"),
        "block_hash",
        "block_number",
        _addr("dexfactory", F.lit(0)).alias("address"),
        F.concat(F.lit("0x"), _addr_word(pool_addr(n)), w64(n)).alias("data"),
        F.array(
            F.lit(PAIR.topic0),
            F.concat(F.lit("0x"), _addr_word(F.lit(DEX_STABLE))),
            F.concat(F.lit("0x"), _addr_word(tok1(n))),
        ).alias("topics"),
    )
    active = tx0.filter(n >= spec.dex_pools)
    pid = n % spec.dex_pools
    m = n + shift
    sync = active.select(
        F.lit(100).alias("log_index"),
        "transaction_hash",
        F.lit(0).alias("transaction_index"),
        "block_hash",
        "block_number",
        pool_addr(pid).alias("address"),
        F.concat(
            F.lit("0x"), w64((F.lit(1000) + m % 97) * 1_000_000), w64(F.lit(5000) + m % 89)
        ).alias("data"),
        F.array(F.lit(SYNC.topic0)).alias("topics"),
    )
    swap = active.select(
        F.lit(101).alias("log_index"),
        "transaction_hash",
        F.lit(0).alias("transaction_index"),
        "block_hash",
        "block_number",
        pool_addr(pid).alias("address"),
        F.concat(
            F.lit("0x"),
            w64((m % 50 + 1) * 1_000_000),  # amount0In (stable, 6 decimals)
            w64(F.lit(0)),
            w64(F.lit(0)),
            w64(m % 30 + 1),                # amount1Out
        ).alias("data"),
        F.array(
            F.lit(SWAP.topic0),
            F.concat(F.lit("0x"), _addr_word(_addr("wallet", n % 19))),
            F.concat(F.lit("0x"), _addr_word(_addr("wallet", (n + 1) % 19))),
        ).alias("topics"),
    )
    out = created.unionByName(sync).unionByName(swap)
    if spec.dex_families:
        tx1 = txs.filter(F.col("transaction_index") == 1).select(
            F.col("hash").alias("transaction_hash"),
            F.col("block_hash"),
            F.col("block_number"),
        )
        out = out.unionByName(_dex_family_log_df(spec, tx0, shift, tx1=tx1))
    return out


def _dex_family_log_df(
    spec: "ChainWalSpec", tx0: DataFrame, shift: int = 0, tx1: DataFrame | None = None
):
    """Curve + DODO v1/v2 traffic (dex_families=True): factory deployment
    events at blocks [0, dex_pools), swaps per later block. Log indexes
    102-107 (the v2 traffic owns 100-101). The curve PlainPoolDeployed
    event deliberately does NOT carry the pool address — discovery must
    resolve it through the same tx's CREATE trace (_geth_trace_df emits
    it), exactly the real event shape."""
    from ethereum_etl_spark.operators.dex import (
        CURVE_ABIS,
        DODO_ABIS,
        DODO_V2_ABIS,
        FACTORY_ABIS,
        UNISWAP_V2_ABIS,
        UNISWAP_V3_ABIS,
    )

    PLAIN = next(a for a in FACTORY_ABIS if a.name == "PlainPoolDeployed")
    BIRTH = next(a for a in FACTORY_ABIS if a.name == "DODOBirth")
    NEWDVM = next(a for a in FACTORY_ABIS if a.name == "NewDVM")
    EXCH, BUY, SELL = CURVE_ABIS[0], DODO_ABIS[0], DODO_ABIS[1]
    DSWAP = DODO_V2_ABIS[0]

    n = F.col("block_number")
    pid = n % spec.dex_pools
    m = n + shift

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    zero_w = F.lpad(F.lit("0"), 64, "0")
    dtok = lambda k: _addr("dtok", k)  # noqa: E731 — shared with v2 pools
    wallet = lambda k: _addr("wallet", k)  # noqa: E731
    deploy = tx0.filter(n < spec.dex_pools)
    active = tx0.filter(n >= spec.dex_pools)

    def row(li, addr, data_parts, topics):
        return [
            F.lit(li).alias("log_index"),
            "transaction_hash",
            F.lit(0).alias("transaction_index"),
            "block_hash",
            "block_number",
            addr.alias("address"),
            F.concat(F.lit("0x"), *data_parts).alias("data"),
            F.array(*topics).alias("topics"),
        ]

    t1 = lambda a: F.concat(F.lit("0x"), _addr_word(a))  # noqa: E731
    curve_deploy = deploy.select(*row(
        102, _addr("curvefactory", F.lit(0)),
        [_addr_word(F.lit(DEX_STABLE)), _addr_word(dtok(n)), zero_w, zero_w,
         w64(F.lit(200)), w64(F.lit(4000000)), _addr_word(wallet(F.lit(0)))],
        [F.lit(PLAIN.topic0)],
    ))
    curve_swap = active.select(*row(
        103, _addr("curvepool", pid),
        [w64(F.lit(0)), w64((m % 50 + 1) * 1_000_000), w64(F.lit(1)), w64(m % 30 + 1)],
        [F.lit(EXCH.topic0), t1(wallet(n % 19))],
    ))
    dodo_birth = deploy.select(*row(
        104, _addr("dodozoo", F.lit(0)),
        [_addr_word(_addr("dodopool", n)), _addr_word(dtok(n)), _addr_word(F.lit(DEX_STABLE))],
        [F.lit(BIRTH.topic0)],
    ))
    # alternate buy/sell by block parity — both v1 decode paths exercised
    dodo_v1_swap = active.select(*row(
        105, _addr("dodopool", pid),
        [w64(m % 30 + 1), w64((m % 50 + 1) * 1_000_000)],
        [F.when(n % 2 == 0, F.lit(SELL.topic0)).otherwise(F.lit(BUY.topic0)),
         t1(wallet(n % 19))],
    ))
    dvm_new = deploy.select(*row(
        106, _addr("dvmfactory", F.lit(0)),
        [_addr_word(dtok(n)), _addr_word(F.lit(DEX_STABLE)),
         _addr_word(wallet(F.lit(0))), _addr_word(_addr("dvmpool", n))],
        [F.lit(NEWDVM.topic0)],
    ))
    dodo_v2_swap = active.select(*row(
        107, _addr("dvmpool", pid),
        [_addr_word(F.lit(DEX_STABLE)), _addr_word(dtok(pid)),
         w64((m % 50 + 1) * 1_000_000), w64(m % 30 + 1),
         _addr_word(wallet(n % 19)), _addr_word(wallet((n + 1) % 19))],
        [F.lit(DSWAP.topic0)],
    ))
    # uniswap-v3 family: PoolCreated discovery, ERC-20 Transfers INTO the
    # pool (→ token_balances with holder=pool → the as-of reserves source,
    # VERDICT r4 item 7), then a signed-amount Swap with sqrtPriceX96
    POOLCREATED = next(a for a in FACTORY_ABIS if a.name == "PoolCreated")
    V3SWAP_TOPIC0 = next(a for a in UNISWAP_V3_ABIS if a.name == "Swap").topic0
    v3_deploy = deploy.select(*row(
        108, _addr("v3factory", F.lit(0)),
        [w64(F.lit(10)), _addr_word(_addr("v3pool", n))],
        [F.lit(POOLCREATED.topic0), t1(F.lit(DEX_STABLE)), t1(dtok(n)),
         F.concat(F.lit("0x"), w64(F.lit(500)))],
    ))
    pool_fund = active.select(*row(
        109, F.lit(DEX_STABLE),
        [w64((m % 40 + 1) * 1_000_000)],
        [F.lit(TRANSFER_TOPIC), t1(wallet(n % 19)), t1(_addr("v3pool", pid))],
    )).unionByName(active.select(*row(
        110, dtok(pid),
        [w64(m % 25 + 1)],
        [F.lit(TRANSFER_TOPIC), t1(wallet(n % 19)), t1(_addr("v3pool", pid))],
    )))
    neg_w64 = lambda c: F.lpad(F.lower(F.hex((-c).cast("long"))), 64, "f")  # noqa: E731
    sqrtp_w = f"{2**96:064x}"  # price0 = 2^192/2^192 pre-decimals
    v3_swap = active.select(*row(
        111, _addr("v3pool", pid),
        [w64((m % 50 + 1) * 1_000_000), neg_w64(m % 30 + 1),
         F.lit(sqrtp_w), w64(F.lit(10**6)), w64(F.lit(100))],
        [F.lit(V3SWAP_TOPIC0), t1(wallet(n % 19)), t1(wallet((n + 1) % 19))],
    ))
    # v2 Mint on the pool that swapped LAST block: its stable-price
    # enrichment rides the PREVIOUS block's mark (no mark of its own) —
    # exactly the as-of dependency the post-reorg trade re-pricing must
    # repair when that previous block gets orphaned
    V2MINT = next(a for a in UNISWAP_V2_ABIS if a.name == "Mint")
    v2_mint = active.select(*row(
        112, _addr("dexpool", (n - 1) % spec.dex_pools),
        [w64((n % 20 + 1) * 1_000_000), w64(n % 10 + 1)],
        [F.lit(V2MINT.topic0), t1(wallet(n % 19))],
    ))
    # the mint's LP tokens (LP token == the v2 pool) minted from NULL to the
    # provider — every other block routed through an intermediary hop, so
    # the liquidity-event enrichment's chain walk is exercised both ways
    null_t = t1(F.lit("0x" + "0" * 40))
    lp_direct = active.filter(n % 2 == 0).select(*row(
        113, _addr("dexpool", (n - 1) % spec.dex_pools),
        [w64((n % 9 + 1) * 10**6)],
        [F.lit(TRANSFER_TOPIC), null_t, t1(wallet(n % 19))],
    ))
    lp_routed = active.filter(n % 2 == 1).select(*row(
        113, _addr("dexpool", (n - 1) % spec.dex_pools),
        [w64((n % 9 + 1) * 10**6)],
        [F.lit(TRANSFER_TOPIC), null_t, t1(wallet(F.lit(20)))],
    )).unionByName(active.filter(n % 2 == 1).select(*row(
        114, _addr("dexpool", (n - 1) % spec.dex_pools),
        [w64((n % 9 + 1) * 10**6)],
        [F.lit(TRANSFER_TOPIC), t1(wallet(F.lit(20))), t1(wallet(n % 19))],
    )))
    out = (
        curve_deploy.unionByName(curve_swap)
        .unionByName(dodo_birth).unionByName(dodo_v1_swap)
        .unionByName(dvm_new).unionByName(dodo_v2_swap)
        .unionByName(v3_deploy).unionByName(pool_fund).unionByName(v3_swap)
        .unionByName(v2_mint).unionByName(lp_direct).unionByName(lp_routed)
    )
    if spec.dex_dmm:
        from ethereum_etl_spark.operators.dex import DMM_ABIS

        DMM_PC = next(
            a for a in FACTORY_ABIS
            if a.namespace == "dmm" and a.name == "PoolCreated"
        )
        DSWP, DSYNC = DMM_ABIS
        V2_MINT = next(a for a in UNISWAP_V2_ABIS if a.name == "Mint")
        dmm_deploy = deploy.select(*row(
            115, _addr("dmmfactory", F.lit(0)),
            [_addr_word(_addr("dmmpool", n)), w64(F.lit(12000)), w64(n + 1)],
            [F.lit(DMM_PC.topic0), t1(F.lit(DEX_STABLE)), t1(dtok(n))],
        ))
        dmm_sync = active.select(*row(
            116, _addr("dmmpool", pid),
            [w64(F.lit(11)), w64(F.lit(13)),
             w64((m % 97 + 5) * 1_000_000), w64((m % 89 + 3) * F.lit(10**17))],
            [F.lit(DSYNC.topic0)],
        ))
        dmm_swap = active.select(*row(
            117, _addr("dmmpool", pid),
            [w64((m % 50 + 1) * 1_000_000), w64(F.lit(0)), w64(F.lit(0)),
             w64((m % 30 + 1) * F.lit(10**16)), w64(F.lit(9))],
            [F.lit(DSWP.topic0), t1(wallet(n % 19)), t1(wallet((n + 1) % 19))],
        ))
        dmm_mint = active.select(*row(
            118, _addr("dmmpool", pid),
            [w64((m % 9 + 1) * 1_000_000), w64((m % 7 + 1) * F.lit(10**16))],
            [F.lit(V2_MINT.topic0), t1(wallet(n % 19))],
        ))
        out = (
            out.unionByName(dmm_deploy).unionByName(dmm_sync)
            .unionByName(dmm_swap).unionByName(dmm_mint)
        )
    if spec.dex_metapools and tx1 is not None:
        META = next(a for a in FACTORY_ABIS if a.name == "MetaPoolDeployed")
        EXCH_U = CURVE_ABIS[1]
        meta_deploy = tx1.filter(n < spec.dex_pools).select(*row(
            109, _addr("curvefactory", F.lit(0)),
            [_addr_word(_addr("utok", n)), _addr_word(_addr("curvepool", n)),
             w64(F.lit(100)), w64(F.lit(4000000)), _addr_word(wallet(F.lit(0)))],
            [F.lit(META.topic0)],
        ))
        # underlying = [utok(pid)] + base coins [DEX_STABLE, dtok(pid)]:
        # sold_id 0 = the 9-decimal underlying coin, bought_id 1 = stable
        meta_swap = tx1.filter(n >= spec.dex_pools).select(*row(
            110, _addr("curvemeta", pid),
            [w64(F.lit(0)), w64((m % 50 + 1) * 1_000_000_000),
             w64(F.lit(1)), w64((m % 40 + 1) * 1_000_000)],
            [F.lit(EXCH_U.topic0), t1(wallet(n % 19))],
        ))
        out = out.unionByName(meta_deploy).unionByName(meta_swap)
    return out


def _token_df(spark: SparkSession, spec: "ChainWalSpec"):
    """Token metadata dimension events (S9 analog: the eth_call
    symbol/name/decimals fetch becomes a dimension stream; ~10% rows with
    missing metadata per docs/limitations.md:6-8). With dex traffic enabled,
    the dex stablecoin (6 decimals) and per-pool tokens (18) are part of the
    dimension too."""
    r = spark.range(0, 38).withColumnRenamed("id", "k")
    k = F.col("k")
    addr = F.when(k == 37, F.lit(HOT_TOKEN)).otherwise(_addr("token", k % 37))
    missing = k % 10 == 3
    base = r.select(
        addr.alias("address"),
        F.when(missing, F.lit(None)).otherwise(F.concat(F.lit("TK"), k.cast("string"))).alias("symbol"),
        F.when(missing, F.lit(None)).otherwise(F.concat(F.lit("Token "), k.cast("string"))).alias("name"),
        (F.lit(6) + k % 13).cast("int").alias("decimals"),
        (k * 1_000_000 + 10**9).cast("string").alias("total_supply"),
        k.alias("block_number"),
        _h("blk", F.lit(spec.seed), k).alias("block_hash"),
    )
    if spec.dex_pools <= 0:
        return base
    d = spark.range(0, spec.dex_pools + 1).withColumnRenamed("id", "k")
    dk = F.col("k")
    dex_tokens = d.select(
        F.when(dk == 0, F.lit(DEX_STABLE)).otherwise(_addr("dtok", dk - 1)).alias("address"),
        F.when(dk == 0, F.lit("USDS")).otherwise(F.concat(F.lit("DT"), dk.cast("string"))).alias("symbol"),
        F.when(dk == 0, F.lit("Stable")).otherwise(F.concat(F.lit("DexTok "), dk.cast("string"))).alias("name"),
        F.when(dk == 0, F.lit(6)).otherwise(F.lit(18)).cast("int").alias("decimals"),
        F.lit(10**9).cast("string").alias("total_supply"),
        dk.alias("block_number"),
        _h("blk", F.lit(spec.seed), dk).alias("block_hash"),
    )
    out = base.unionByName(dex_tokens)
    if spec.dex_metapools:
        u = spark.range(0, spec.dex_pools).withColumnRenamed("id", "k")
        uk = F.col("k")
        # the metapool underlying coin: 9 decimals, deliberately different
        # from every pool-pair token so a tok_probe miss (18 fallback) is
        # visible in the trade amounts
        out = out.unionByName(
            u.select(
                _addr("utok", uk).alias("address"),
                F.concat(F.lit("UT"), uk.cast("string")).alias("symbol"),
                F.concat(F.lit("Under "), uk.cast("string")).alias("name"),
                F.lit(9).cast("int").alias("decimals"),
                F.lit(10**9).cast("string").alias("total_supply"),
                uk.alias("block_number"),
                _h("blk", F.lit(spec.seed), uk).alias("block_hash"),
            )
        )
    return out


def _envelope(
    df: DataFrame, entity_type: str, op: str, seq_block_shift: int = 0
) -> DataFrame:
    """Wrap typed rows into the WAL envelope with a deterministic seq:
    seq = (block + shift)*16 + intra (normal rows intra 0-5, fork
    re-emissions 8-13 — a fork of block B appears at B+reorg_lag's seq
    position, i.e. after ``reorg_lag`` more blocks of normal traffic)."""
    bn = F.col("block_number") if "block_number" in df.columns else F.col("number")
    bh = F.col("block_hash") if "block_hash" in df.columns else F.col("hash")
    intra = {
        "block": 0, "transaction": 1, "receipt": 2, "log": 3,
        "geth_trace": 4, "token": 5,
    }[entity_type] + (8 if op == "reorg" else 0)
    return df.select(
        ((bn + seq_block_shift) * 16 + intra).alias("seq"),
        bn.alias("block_number"),
        bh.alias("block_hash"),
        F.lit(entity_type).alias("entity_type"),
        F.lit(op).alias("op"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("payload"),
    )


def generate_chain_wal(spark: SparkSession, spec: ChainWalSpec) -> DataFrame:
    """Distributed deterministic chain WAL: blocks, txs, receipts, logs
    (+ optional reorg re-emissions with fork hashes at later seq)."""
    blocks = _blocks_df(spark, spec)
    txs = _tx_df(spark, spec, blocks)
    receipts = _receipt_df(spec, txs)
    logs = _log_df(spec, txs)
    if spec.dex_pools > 0:
        logs = logs.unionByName(_dex_log_df(spark, spec, txs))
    geth = _geth_trace_df(spec, txs)
    tokens = _token_df(spark, spec)
    parts = [
        _envelope(blocks, "block", "upsert", 0),
        _envelope(txs, "transaction", "upsert", 0),
        _envelope(receipts, "receipt", "upsert", 0),
        _envelope(logs, "log", "upsert", 0),
        _envelope(geth, "geth_trace", "upsert", 0),
        _envelope(tokens, "token", "upsert", 0),
    ]
    if spec.reorg_blocks:
        rb = spark.createDataFrame([(b,) for b in spec.reorg_blocks], ["number"])
        fork_blocks = _blocks_df(spark, spec, fork_of=rb)
        fork_txs = _tx_df(spark, spec, fork_blocks, key_shift=spec.fork_key_shift)
        fork_receipts = _receipt_df(spec, fork_txs)
        fork_logs = _log_df(spec, fork_txs, key_shift=spec.fork_key_shift)
        if spec.dex_pools > 0:
            # the fork chain carries dex traffic too (fork tx hashes differ,
            # so the re-emitted swaps are genuinely different trades)
            fork_logs = fork_logs.unionByName(
                _dex_log_df(spark, spec, fork_txs, shift=spec.fork_key_shift)
            )
        fork_geth = _geth_trace_df(spec, fork_txs)
        # reorg rows enter the stream a confirmation depth later
        parts += [
            _envelope(fork_blocks, "block", "reorg", spec.reorg_lag),
            _envelope(fork_txs, "transaction", "reorg", spec.reorg_lag),
            _envelope(fork_receipts, "receipt", "reorg", spec.reorg_lag),
            _envelope(fork_logs, "log", "reorg", spec.reorg_lag),
            _envelope(fork_geth, "geth_trace", "reorg", spec.reorg_lag),
        ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def generate_repo_wal(
    spark: SparkSession,
    n_commits: int = 100,
    files_per_commit: int = 50,
    n_repos: int = 20,
    seed: str = "42",
) -> DataFrame:
    """north_rule input shape: WAL of source-code file change events
    (repo, path, commit, lang, content) — BASELINE.json input_hint.
    Deterministic, distributed; ``seq`` = commit index. ~20% of events
    touch an existing path (updates), rest create new paths."""
    langs = F.array(*[F.lit(x) for x in ["py", "go", "rs", "js", "java"]])
    ev = (
        spark.range(0, n_commits * files_per_commit)
        .select(
            (F.col("id") / files_per_commit).cast("long").alias("commit_idx"),
            F.col("id").alias("event_idx"),
        )
    )
    repo_id = F.col("event_idx") % n_repos
    # 80% new path / 20% rewrite of an earlier path in the same repo
    path_id = F.when(
        F.col("event_idx") % 5 == 0, (F.col("event_idx") / 7).cast("long")
    ).otherwise(F.col("event_idx"))
    content = F.concat(
        F.lit("// "), F.lit(seed), F.lit(" file "),
        path_id.cast("string"), F.lit(" rev "), F.col("commit_idx").cast("string"),
        F.lit("\n"),
        F.repeat(F.concat(F.lit("line of code "), (F.col("event_idx") % 97).cast("string"), F.lit("\n")), 20),
    )
    return ev.select(
        F.col("commit_idx").alias("seq"),
        F.concat(F.lit("repo-"), repo_id.cast("string")).alias("repo"),
        F.concat(
            F.lit("src/"), ((path_id % 13)).cast("string"), F.lit("/f"),
            path_id.cast("string"),
            F.element_at(langs, (path_id % 5 + 1).cast("int")),
        ).alias("path"),
        F.substring(F.sha2(F.concat(F.lit(seed), F.col("commit_idx").cast("string")), 256), 1, 40).alias("commit"),
        F.element_at(langs, (path_id % 5 + 1).cast("int")).alias("lang"),
        content.alias("content"),
    )


class WalTailer:
    """Range tailer over a (possibly growing) WAL parquet/lake table.

    compute_target mirrors Streamer._calculate_target_block
    (/root/reference/blockchainetl/streaming/streamer.py:136-157): target =
    min(head - lag, watermark + batch); catch-up skip when behind by more
    than 1.5x batch.

    ``align``: seq units per block (the envelope's seq = block*16 + intra).
    Non-final targets are rounded DOWN to a block boundary so a batch never
    splits a block's entities (a transaction landing in batch k with its
    receipt in batch k+1 would break the 1:1 enrich — the reference always
    consumes whole blocks, block_batch_size is in blocks)."""

    def __init__(self, wal_df: DataFrame, batch_size: int = 10, lag: int = 0, align: int = 16):
        self.wal = wal_df
        self.batch_size = batch_size
        self.lag = lag
        self.align = align
        self._head = None

    def head(self, refresh: bool = False) -> int:
        """Current WAL head (max seq). Cached between sync cycles only —
        ``compute_target`` refreshes it every cycle, so a long-lived tailer
        observes rows appended while it runs (a memoized head would stop the
        loop at the first head it ever saw). A top-1 sort runs one Spark
        job where ``agg(max)`` runs two (partial aggregate, then its
        exchange); an empty WAL's head is 0."""
        if refresh or self._head is None:
            top = self.wal.select("seq").orderBy(F.desc("seq")).first()
            self._head = (top[0] if top else None) or 0
        return self._head

    def compute_target(self, watermark: int, allow_skip: bool = False) -> int | None:
        head = self.head(refresh=True) - self.lag
        if head <= watermark:
            return None
        if allow_skip and head - watermark > 1.5 * self.batch_size:
            return head  # catch-up: jump to head (streamer.py:136-149)
        target = min(head, watermark + self.batch_size)
        if target < head and self.align > 1:
            # ranges are (lo, hi]: a whole-block target ends at align*k - 1
            aligned = ((target + 1) // self.align) * self.align - 1
            if aligned <= watermark:  # batch smaller than one block: advance
                aligned = min(
                    head, ((watermark + 1) // self.align + 1) * self.align - 1
                )
            target = aligned
        return target

    def read_range(self, lo_exclusive: int, hi_inclusive: int) -> DataFrame:
        # predicate pushes into the parquet scan (seq range → row-group skip)
        return self.wal.filter(
            (F.col("seq") > lo_exclusive) & (F.col("seq") <= hi_inclusive)
        )
