"""DEX trade assembly: every AMM family in one join tree.

The reference prices each family with its own resolver class
(service/dex/*/, dispatched by dex_client_factory.py). Every family shares
one skeleton: filter parsed logs → attach the pool row → resolve the two
traded legs → attach decimals → family-specific amount/price arithmetic.
:func:`extract_dex_trades_combined` runs that skeleton once for all the
requested families:

- ONE broadcast join against the pools dimension (LEFT; families whose pair
  is in the event — balancer_v2, wombat, carbondefi — ignore it, and inner
  semantics for the rest are restored by a post-filter);
- ONE pair of token-decimals broadcast joins on the resolved leg addresses;
- ONE window shuffle over (contract_address, transaction_hash) computing both
  the v2/bento same-tx Sync reserves (exclusive frame) and the v3 last-Swap
  sqrtPriceX96 (inclusive frame) — Spark plans both frames over a single
  exchange because partitioning and ordering agree;
- per-family arithmetic as one CASE chain on the resolved ``__fam`` column.

Each family's semantics and reference citation sit beside FAMILY_EVENTS.
``families=[...]`` restricts the tree to a subset; the streamer passes the
families present in a batch, and the harness queries pass one family each,
so every family's DuckDB oracle checks this extractor. Golden rows for a
fixture that emits every family are pinned by tests/test_dex_combined.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ethereum_etl_spark.operators.dex import (
    BALANCER_V2_ABIS,
    BANCOR_V2_ABIS,
    CARBON_ABIS,
    CURVE_ABIS,
    DMM_ABIS,
    DODO_ABIS,
    DODO_V2_ABIS,
    FJORD_ABIS,
    INFINITE_PRICE_THRESHOLD,
    MESHSWAP_ABIS,
    ONE_INCH_ABIS,
    SADDLE_ABIS,
    SUSHI_BENTO_ABIS,
    TRADERJOE_ABIS,
    UNISWAP_V2_ABIS,
    UNISWAP_V3_ABIS,
    WOMBAT_ABIS,
    _asof_pool_reserves,
    _pe,
)

# family key → its event-ABI list (one import point for the streamer: the
# combined inventory is the concatenation, and per-family topic0 sets gate
# which families a batch pays for)
FAMILY_ABIS = {
    "uniswap_v2": UNISWAP_V2_ABIS,
    "dmm": DMM_ABIS,
    "meshswap": MESHSWAP_ABIS,
    "uniswap_v3": UNISWAP_V3_ABIS,
    "balancer_v2": BALANCER_V2_ABIS,
    "curve": CURVE_ABIS,
    "saddle": SADDLE_ABIS,
    "dodo": DODO_ABIS,
    "dodo_v2": DODO_V2_ABIS,
    "traderjoe_v2_1": TRADERJOE_ABIS,
    "one_inch": ONE_INCH_ABIS,
    "sushiswap_bento": SUSHI_BENTO_ABIS,
    "wombat": WOMBAT_ABIS,
    "carbondefi": CARBON_ABIS,
    "fjord": FJORD_ABIS,
    "bancor_v2": BANCOR_V2_ABIS,
}

# family key → event names. A row matching two families resolves to the
# first; no two families share a (topic0, event-name) pair today. Each
# family's rendering of its reference resolver: where the reference
# point-calls RPC state, prices fall back to the swap's own ratio pair and
# reserves to 0 (its error path) unless noted.
FAMILY_EVENTS: dict[str, tuple[str, ...]] = {
    # uniswap_v2.py:166-230 amounts; reserves from the last same-tx Sync
    # (getReserves at block-1, :124-135), price = reserve ratio clamped at
    # INFINITE_PRICE_THRESHOLD (:151-156). v2 forks (sushiswap, solidly,
    # canto_dex, ...) share the events and take the pool dim's amm label.
    "uniswap_v2": ("Swap", "Sync", "Mint", "Burn"),
    # dmm/dmm.py:14-18: v2 math over DMM's own Swap and 4-word Sync (the
    # trailing reserve pair). DMM Mint/Burn share v2's topic0s and ride
    # the uniswap_v2 branch (amm "dmm" via the pool dim); DMM's Sync is
    # mark-only
    "dmm": ("Swap", "Sync"),
    # meshswap.py:45-76: ExchangePos/Neg name the SOLD token (:59-64);
    # liquidity reads amounts in pool order (inherited v2 handlers);
    # reserves from v2-topic0 Syncs (MESHSWAP_ABIS note)
    "meshswap": ("ExchangePos", "ExchangeNeg", "AddLiquidity", "RemoveLiquidity"),
    # uniswap_v3.py:134-226: signed amounts, Collect → burn; price from the
    # last same-tx Swap's sqrtPriceX96 (:288-295); reserves as-of the
    # pool_balances history (balanceOf, :123-132). KyberSwap Elastic has
    # the same Swap topic0 and attributes through the pool dim
    "uniswap_v3": ("Swap", "Mint", "Burn", "Collect"),
    # balancer.py:448-481: the Vault emits; pool = first 20 bytes of
    # poolId (:129-133), pair = (tokenIn, tokenOut) from the event
    "balancer_v2": ("Swap",),
    # curve.py:514-603: legs by coin index into the pool's coins (the
    # underlying array for *Underlying, :214-224); bad index drops the row
    "curve": ("TokenExchange", "TokenExchangeUnderlying"),
    # saddle/saddle.py:87-105: curve semantics, own event layout
    "saddle": ("TokenSwap", "TokenSwapUnderlying"),
    # dodo/contracts_v1.py:195-214: buy/sell of the base token
    "dodo": ("BuyBaseToken", "SellBaseToken"),
    # dodo/contracts_v2.py:146-156: leg order from pool token0
    "dodo_v2": ("DODOSwap",),
    # traderjoe_v2_1.py:68-221: packed uint128 pairs; bins folded for
    # mint/burn (amounts stay positive), mint/burn prices 0
    "traderjoe_v2_1": ("Swap", "DepositedToBins", "WithdrawnFromBins"),
    # oneinch.py:145-173: dst == token1 sign rule; reserves from the
    # event's srcBalance/dstBalance, clamped reserve-ratio prices
    "one_inch": ("Swapped",),
    # sushiswap_bento.py:16-41: tokenIn-keyed Swap, v2 Sync reserves;
    # Burns share v2's topic0 and ride the uniswap_v2 branch
    "sushiswap_bento": ("Swap", "Sync", "Mint"),
    # wombat.py:224-253: pair from the event. Deposit/Withdraw (:115-129,
    # :256-302) ride the N-leg side branch (_wombat_liquidity); platypus
    # pools attribute through the pool dim
    "wombat": ("Swap",),
    # carbondefi.py:110-155: the controller emits; pair from the event
    "carbondefi": ("TokensTraded",),
    # fjord.py:125-174: pool pair [asset, share]
    "fjord": ("Buy", "Sell"),
    # bancor_v2.py get_data_from_swap_event / _mint_burn_event: Conversion
    # legs in reserve order; Liquidity* one-sided with _newBalance reserves
    "bancor_v2": ("Conversion", "LiquidityAdded", "LiquidityRemoved"),
}

# families that resolve their traded pair from the event itself and need no
# pool-dimension row
_IN_EVENT_FAMILIES = {"balancer_v2", "wombat", "carbondefi"}


def _fam_case(families: list[str], events: dict[str, tuple[str, ...]] | None = None):
    """__fam := first family whose (namespace, event_name) predicate holds."""
    events = events or FAMILY_EVENTS
    expr = F.lit(None).cast("string")
    for fam in reversed(families):
        expr = F.when(
            F.array_contains(F.col("namespace"), fam)
            & F.col("event_name").isin(*events[fam]),
            F.lit(fam),
        ).otherwise(expr)
    return expr


def _norm_families(families: list[str] | None) -> list[str]:
    families = [f for f in FAMILY_EVENTS if families is None or f in set(families)]
    if not families:
        raise ValueError("families must be non-empty")
    return families


def prepare_marked(parsed_logs: DataFrame, families: list[str] | None = None) -> DataFrame:
    """Family dispatch + the shared Sync-reserve / v3-sqrtPrice window, with
    UNSCALED marks (``__res0_raw``/``__res1_raw``/``__sqrtp``); Sync rows
    dropped after feeding the window.

    Pools-INDEPENDENT by construction (r6): the window is keyed
    (contract_address, transaction_hash) and pool-membership is a property
    of the contract, so running it before the pools join sees extra marks
    only from contracts whose family rows the pools join would drop anyway
    (in-event families never read reserve/sqrtp marks). That makes this
    half of the extract buildable on the streamer's PREFETCH thread,
    overlapped with the previous batch's merges — it carries the window
    exchange and the family-dispatch codegen, which were serial inside the
    dex critical chain. Decimal scaling happens in
    extract_dex_trades_combined after the token joins, with the consuming
    row's own scale — identical arithmetic to the fused form.
    """
    families = _norm_families(families)
    fams = set(families)
    pe = F.col("parsed_event")
    fam = F.col("__fam")

    events_map = {f: FAMILY_EVENTS[f] for f in families}
    if "meshswap" in fams and "uniswap_v2" not in fams:
        # meshswap Syncs decode under uniswap v2's inventory row (identical
        # topic0 — MESHSWAP_ABIS note); when v2 itself isn't requested,
        # claim those rows through a mark-only pseudo-branch so the reserve
        # window still sees them (they never reach the output: Sync rows
        # are dropped after the window).
        events_map["uniswap_v2"] = ("Sync",)
    if "uniswap_v2" in fams and "dmm" not in fams:
        # the mirror case: v2-topic0 Mint/Burn on a Kyber DMM pool read
        # their reserves from DMM's OWN 4-word Sync — keep those marks with
        # a mark-only dmm pseudo-branch
        events_map["dmm"] = ("Sync",)
    ev = parsed_logs.withColumn(
        "__fam", _fam_case(list(events_map), events_map)
    ).filter(F.col("__fam").isNotNull())

    win_cols: dict = {}
    sync_fams = set(events_map) & {"uniswap_v2", "dmm", "sushiswap_bento"}
    if sync_fams:
        w_excl = (
            Window.partitionBy("contract_address", "transaction_hash")
            .orderBy("log_index")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        is_sync = fam.isin(*sorted(sync_fams)) & (F.col("event_name") == "Sync")
        win_cols["__res0_raw"] = F.last(
            F.when(is_sync, _pe("reserve0")), ignorenulls=True
        ).over(w_excl)
        win_cols["__res1_raw"] = F.last(
            F.when(is_sync, _pe("reserve1")), ignorenulls=True
        ).over(w_excl)
    else:
        win_cols["__res0_raw"] = F.lit(None).cast("double")
        win_cols["__res1_raw"] = F.lit(None).cast("double")
    if "uniswap_v3" in fams:
        from ethereum_etl_spark.functions.hex import hex_to_double

        w_incl = (
            Window.partitionBy("contract_address", "transaction_hash")
            .orderBy("log_index")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sqrtp_mark = F.when(
            (fam == "uniswap_v3") & (F.col("event_name") == "Swap"),
            hex_to_double(pe["sqrtPriceX96"]),
        )
        win_cols["__sqrtp"] = F.last(sqrtp_mark, ignorenulls=True).over(w_incl)

    # Sync rows only feed the window
    return ev.withColumns(win_cols).filter(F.col("event_name") != "Sync")


def extract_dex_trades_combined(
    parsed_logs: DataFrame,
    pools: DataFrame,
    tokens: DataFrame,
    pool_balances: DataFrame | None = None,
    families: list[str] | None = None,
    marked: DataFrame | None = None,
) -> DataFrame:
    """All requested AMM families → dex_trades rows in one join tree.

    ``families`` defaults to every key of FAMILY_EVENTS; the streamer passes
    the subset whose topic0s actually occur in the batch so the CASE chains
    stay as small as the batch needs. ``marked`` (optional) is a pre-built
    :func:`prepare_marked` frame for the SAME (parsed_logs, families) —
    the streamer hands in a prefetched checkpoint so the window/dispatch
    half runs off the critical path. Output schema = TRADE_SHAPE_DDL.
    """
    families = _norm_families(families)
    fams = set(families)
    pe = F.col("parsed_event")
    fam = F.col("__fam")
    ev = marked if marked is not None else prepare_marked(parsed_logs, families)

    # ---- ONE pools attach (LEFT; inner-join semantics restored below) ----
    # Missing dimension columns are projected as NULL on the (tiny) pools
    # side rather than patched onto the joined tree afterwards: every extra
    # DataFrame transformation here re-runs eager analysis over the whole
    # accumulated tree — a measurable serial per-cycle driver cost.
    need_pool = bool(fams - _IN_EVENT_FAMILIES)
    has_amm = "amm" in pools.columns
    has_underlying = "underlying_token_addresses" in pools.columns
    if need_pool:
        pcols = [
            F.col("address").alias("contract_address"),
            F.col("factory_address").alias("__pfactory"),
            F.col("token_addresses").alias("__ptoks"),
            (F.col("amm") if has_amm else F.lit(None).cast("string")).alias("__pamm"),
            (
                F.col("underlying_token_addresses")
                if has_underlying
                else F.lit(None).cast("array<string>")
            ).alias("__punder"),
        ]
        ev = ev.join(
            F.broadcast(pools.select(*pcols)), on="contract_address", how="left"
        )
    else:
        ev = ev.withColumns(
            {
                "__pfactory": F.lit(None).cast("string"),
                "__ptoks": F.lit(None).cast("array<string>"),
                "__pamm": F.lit(None).cast("string"),
                "__punder": F.lit(None).cast("array<string>"),
            }
        )

    in_event = fam.isin(*sorted(_IN_EVENT_FAMILIES)) if fams & _IN_EVENT_FAMILIES else F.lit(False)
    # per-family INNER join semantics: pool-dimension families drop rows
    # whose emitting contract has no committed pool row
    ev = ev.filter(in_event | F.col("__ptoks").isNotNull())

    # ---- resolve the two traded legs (scaling pair) ----
    t0p = F.element_at("__ptoks", 1)
    t1p = F.element_at("__ptoks", 2)
    leg_a = t0p
    leg_b = t1p
    # coin-index families (curve + saddle): legs resolve by event coin index
    # into the pool's coin array (underlying for the *Underlying variants)
    _COIN_IDX = {"curve": ("sold_id", "bought_id"), "saddle": ("soldId", "boughtId")}
    coin_fams = [f for f in ("curve", "saddle") if f in fams]
    for cf in coin_fams:
        coins = F.when(
            F.col("event_name").isin("TokenExchangeUnderlying", "TokenSwapUnderlying")
            & F.col("__punder").isNotNull()
            & (F.size("__punder") > 0),
            F.col("__punder"),
        ).otherwise(F.col("__ptoks"))
        ci = pe[_COIN_IDX[cf][0]].try_cast("int")
        cj = pe[_COIN_IDX[cf][1]].try_cast("int")
        cf_ta = F.when((ci >= 0) & (ci < F.size(coins)), F.get(coins, ci))
        cf_tb = F.when((cj >= 0) & (cj < F.size(coins)), F.get(coins, cj))
        leg_a = F.when(fam == cf, cf_ta).otherwise(leg_a)
        leg_b = F.when(fam == cf, cf_tb).otherwise(leg_b)
    if "balancer_v2" in fams:
        leg_a = F.when(fam == "balancer_v2", F.lower(pe["tokenIn"])).otherwise(leg_a)
        leg_b = F.when(fam == "balancer_v2", F.lower(pe["tokenOut"])).otherwise(leg_b)
    if "wombat" in fams:
        leg_a = F.when(fam == "wombat", F.lower(pe["fromToken"])).otherwise(leg_a)
        leg_b = F.when(fam == "wombat", F.lower(pe["toToken"])).otherwise(leg_b)
    if "carbondefi" in fams:
        leg_a = F.when(fam == "carbondefi", F.lower(pe["sourceToken"])).otherwise(leg_a)
        leg_b = F.when(fam == "carbondefi", F.lower(pe["targetToken"])).otherwise(leg_b)
    ev = ev.withColumns({"__t0": leg_a, "__t1": leg_b})
    if coin_fams:
        # out-of-range coin index → resolve-failure skip
        ev = ev.filter(
            ~fam.isin(*coin_fams)
            | (F.col("__t0").isNotNull() & F.col("__t1").isNotNull())
        )

    # ---- ONE pair of decimals joins ----
    tok = tokens.select("address", "decimals")
    ev = ev.join(
        F.broadcast(tok.select(F.col("address").alias("__t0"), F.col("decimals").alias("__d0"))),
        on="__t0", how="left",
    ).join(
        F.broadcast(tok.select(F.col("address").alias("__t1"), F.col("decimals").alias("__d1"))),
        on="__t1", how="left",
    )
    # inline-able twins of __s0/__s1 for expressions created in the SAME
    # withColumns pass (a pass may not reference columns it creates)
    s0x = F.pow(F.lit(10.0), F.coalesce("__d0", F.lit(18)))
    s1x = F.pow(F.lit(10.0), F.coalesce("__d1", F.lit(18)))
    # reserve marks scaled by the CONSUMING row's own decimals — the window
    # itself ran (unscaled) in prepare_marked; NULL marks stay NULL through
    # the division, identical to the previously fused `last(...)/s0x`
    scale_cols = {
        "__s0": s0x,
        "__s1": s1x,
        "__res0": F.col("__res0_raw") / s0x,
        "__res1": F.col("__res1_raw") / s1x,
    }
    s0, s1 = F.col("__s0"), F.col("__s1")
    ev = ev.withColumns(scale_cols)

    # ---- per-family arithmetic ----
    # Each case is a thunk, built only when its family is requested: one
    # parsed-field decode (_pe) is a ~70-node expression, one py4j round trip
    # per node, so building every family's cases for a one-family call cost
    # seconds of Python-side plan building.
    en = F.col("event_name")
    clamp = lambda c: F.when(c >= INFINITE_PRICE_THRESHOLD, F.lit(0.0)).otherwise(c)  # noqa: E731

    def chain(cases, default=None):
        expr = None
        for f, build in cases:
            if f in fams:
                e = build()
                expr = F.when(fam == f, e) if expr is None else expr.when(fam == f, e)
        if expr is None:
            return F.lit(None) if default is None else default
        # every output row's __fam is a requested family, so with a case for
        # each of them the default is unreachable; leaving it out keeps a
        # filter pushed down through this projection (a price > 0 test, say)
        # from inlining the default's amount decodes
        if default is None or fams <= {f for f, _ in cases}:
            return expr
        return expr.otherwise(default)

    # amounts
    def v2_leg(i, s_):
        return (
            F.when(en == "Swap", (_pe(f"amount{i}In") - _pe(f"amount{i}Out")) / s_)
            .when(en == "Mint", _pe(f"amount{i}") / s_)
            .when(en == "Burn", -_pe(f"amount{i}") / s_)
        )

    mesh_sw = en.isin("ExchangePos", "ExchangeNeg")
    mesh_sold0 = F.lower(pe["token0"]) == F.col("__t0")

    def mesh_a0():
        return (
            F.when(mesh_sw, F.when(mesh_sold0, _pe("amount0")).otherwise(-_pe("amount1")))
            .when(en == "AddLiquidity", _pe("amount0"))
            .otherwise(-_pe("amount0"))
        )

    def mesh_a1():
        return (
            F.when(mesh_sw, F.when(mesh_sold0, -_pe("amount1")).otherwise(_pe("amount0")))
            .when(en == "AddLiquidity", _pe("amount1"))
            .otherwise(-_pe("amount1"))
        )

    dodo_buy = en == "BuyBaseToken"
    tj_swap = en == "Swap"

    def tj_leg(high: bool):
        tj_arr = F.from_json(pe["amounts"], "array<string>")
        return F.when(
            tj_swap, _lb_half(pe["amountsIn"], high) - _lb_half(pe["amountsOut"], high)
        ).otherwise(F.aggregate(tj_arr, F.lit(0.0), lambda acc, w: acc + _lb_half(w, high)))

    oi_dst1 = F.lower(pe["dst"]) == F.col("__t1")
    bento_in0 = F.lower(pe["tokenIn"]) == F.col("__t0")
    dv2_from0 = F.lower(pe["fromToken"]) == F.col("__t0")
    fj_buy = en == "Buy"
    # bancor v2 (BANCOR_V2_ABIS note): Conversion maps -_amount/+_return
    # onto the converter's reserve order; Liquidity* is one-sided _amount
    # at the _reserveToken leg (sign = mint/burn)
    bc_conv = en == "Conversion"
    bc_sign = F.when(en == "LiquidityAdded", F.lit(1.0)).otherwise(F.lit(-1.0))

    def _bc_leg(t, s_):
        return (
            F.when(
                bc_conv,
                F.when(F.lower(pe["_fromToken"]) == t, -_pe("_amount"))
                .when(F.lower(pe["_toToken"]) == t, _pe("_return"))
                .otherwise(F.lit(0.0)),
            ).otherwise(
                F.when(
                    F.lower(pe["_reserveToken"]) == t, bc_sign * _pe("_amount")
                ).otherwise(F.lit(0.0))
            )
            / s_
        )

    def _bc_res(t, s_):
        return F.when(
            ~bc_conv & (F.lower(pe["_reserveToken"]) == t),
            _pe("_newBalance") / s_,
        ).otherwise(F.lit(0.0))

    a0 = chain([
        ("uniswap_v2", lambda: v2_leg(0, s0)),
        ("dmm", lambda: v2_leg(0, s0)),
        ("meshswap", lambda: mesh_a0() / s0),
        ("uniswap_v3", lambda: _pe("amount0") / s0),
        ("balancer_v2", lambda: _pe("amountIn") / s0),
        ("curve", lambda: _pe("tokens_sold") / s0),
        ("saddle", lambda: _pe("tokensSold") / s0),
        ("dodo", lambda: (F.when(dodo_buy, -_pe("receiveBase")).otherwise(_pe("payBase"))) / s0),
        ("dodo_v2", lambda: (F.when(dv2_from0, _pe("fromAmount")).otherwise(-_pe("toAmount"))) / s0),
        ("traderjoe_v2_1", lambda: tj_leg(False) / s0),
        ("one_inch", lambda: (F.when(oi_dst1, -_pe("amount")).otherwise(_pe("result"))) / s0),
        ("sushiswap_bento", lambda: (
            F.when(en == "Swap", F.when(bento_in0, _pe("amountIn")).otherwise(-_pe("amountOut")))
            .when(en == "Mint", _pe("amount0"))
            .otherwise(-_pe("amount0"))
        ) / s0),
        ("wombat", lambda: _pe("fromAmount") / s0),
        ("carbondefi", lambda: _pe("sourceAmount") / s0),
        ("fjord", lambda: (F.when(fj_buy, -_pe("assets")).otherwise(_pe("assets"))) / s0),
        ("bancor_v2", lambda: _bc_leg(F.col("__t0"), s0)),
    ])
    a1 = chain([
        ("uniswap_v2", lambda: v2_leg(1, s1)),
        ("dmm", lambda: v2_leg(1, s1)),
        ("meshswap", lambda: mesh_a1() / s1),
        ("uniswap_v3", lambda: _pe("amount1") / s1),
        ("balancer_v2", lambda: -_pe("amountOut") / s1),
        ("curve", lambda: -_pe("tokens_bought") / s1),
        ("saddle", lambda: -_pe("tokensBought") / s1),
        ("dodo", lambda: (F.when(dodo_buy, _pe("payQuote")).otherwise(-_pe("receiveQuote"))) / s1),
        ("dodo_v2", lambda: (F.when(dv2_from0, -_pe("toAmount")).otherwise(_pe("fromAmount"))) / s1),
        ("traderjoe_v2_1", lambda: tj_leg(True) / s1),
        ("one_inch", lambda: (F.when(oi_dst1, _pe("result")).otherwise(-_pe("amount"))) / s1),
        ("sushiswap_bento", lambda: (
            F.when(en == "Swap", F.when(bento_in0, -_pe("amountOut")).otherwise(_pe("amountIn")))
            .when(en == "Mint", _pe("amount1"))
            .otherwise(-_pe("amount1"))
        ) / s1),
        ("wombat", lambda: -_pe("toAmount") / s1),
        ("carbondefi", lambda: -_pe("targetAmount") / s1),
        ("fjord", lambda: (F.when(fj_buy, _pe("shares")).otherwise(-_pe("shares"))) / s1),
        ("bancor_v2", lambda: _bc_leg(F.col("__t1"), s1)),
    ])
    ev = ev.withColumns({"__a0": a0, "__a1": a1})
    ra0, ra1 = F.col("__a0"), F.col("__a1")

    # prices
    rat0, rat1 = _ratio_prices(ra0, ra1)
    res_p0 = F.when(F.col("__res0") > 0, F.col("__res1") / F.col("__res0")).otherwise(F.lit(0.0))
    res_p1 = F.when(F.col("__res1") > 0, F.col("__res0") / F.col("__res1")).otherwise(F.lit(0.0))
    if "uniswap_v3" in fams:
        v3_p0 = F.when(
            F.col("__sqrtp").isNotNull(),
            (F.col("__sqrtp") * F.col("__sqrtp") / F.lit(float(2**192))) / (s1 / s0),
        ).otherwise(F.lit(0.0))
        v3_p1 = F.when(v3_p0 > 0, F.lit(1.0) / v3_p0).otherwise(F.lit(0.0))
    else:
        v3_p0 = v3_p1 = F.lit(0.0)

    def oi_reserves():
        return (
            (F.when(oi_dst1, _pe("srcBalance")).otherwise(_pe("dstBalance"))) / s0,
            (F.when(oi_dst1, _pe("dstBalance")).otherwise(_pe("srcBalance"))) / s1,
        )

    def oi_price(i):
        r = oi_reserves()
        return clamp(F.when(r[i] > 0, r[1 - i] / r[i]).otherwise(F.lit(0.0)))

    tj_p0 = F.when(tj_swap, rat0).otherwise(F.lit(0.0))
    tj_p1 = F.when(tj_swap, rat1).otherwise(F.lit(0.0))
    p0 = chain([
        ("uniswap_v2", lambda: clamp(res_p0)),
        ("dmm", lambda: clamp(res_p0)),
        ("meshswap", lambda: clamp(res_p0)),
        ("uniswap_v3", lambda: v3_p0),
        ("one_inch", lambda: oi_price(0)),
        ("sushiswap_bento", lambda: clamp(res_p0)),
        ("traderjoe_v2_1", lambda: tj_p0),
        ("bancor_v2", lambda: F.when(bc_conv, rat0).otherwise(F.lit(0.0))),
    ], default=rat0)
    p1 = chain([
        ("uniswap_v2", lambda: clamp(res_p1)),
        ("dmm", lambda: clamp(res_p1)),
        ("meshswap", lambda: clamp(res_p1)),
        ("uniswap_v3", lambda: v3_p1),
        ("one_inch", lambda: oi_price(1)),
        ("sushiswap_bento", lambda: clamp(res_p1)),
        ("traderjoe_v2_1", lambda: tj_p1),
        ("bancor_v2", lambda: F.when(bc_conv, rat1).otherwise(F.lit(0.0))),
    ], default=rat1)

    # reserves (v3's as-of branch attaches after the select)
    zero2 = F.array(F.lit(0.0), F.lit(0.0))
    sync_res = F.array(
        F.coalesce("__res0", F.lit(0.0)), F.coalesce("__res1", F.lit(0.0))
    )
    reserves = chain([
        ("uniswap_v2", lambda: sync_res),
        ("dmm", lambda: sync_res),
        ("meshswap", lambda: sync_res),
        ("sushiswap_bento", lambda: sync_res),
        ("one_inch", lambda: F.array(*oi_reserves())),
        ("bancor_v2", lambda: F.array(_bc_res(F.col("__t0"), s0), _bc_res(F.col("__t1"), s1))),
    ], default=zero2)

    # event_type / wallet / amm / addresses / identity columns
    def mint_burn(swap, mint):
        return F.when(swap, "swap").when(mint, "mint").otherwise("burn")

    event_type = chain([
        ("uniswap_v2", lambda: mint_burn(en == "Swap", en == "Mint")),
        ("meshswap", lambda: mint_burn(mesh_sw, en == "AddLiquidity")),
        ("uniswap_v3", lambda: mint_burn(en == "Swap", en == "Mint")),
        ("traderjoe_v2_1", lambda: mint_burn(tj_swap, en == "DepositedToBins")),
        ("sushiswap_bento", lambda: mint_burn(en == "Swap", en == "Mint")),
        ("bancor_v2", lambda: mint_burn(bc_conv, en == "LiquidityAdded")),
    ], default=F.lit("swap"))
    wallet = chain([
        ("uniswap_v2", lambda: F.coalesce(pe["to"], pe["sender"])),
        ("dmm", lambda: F.coalesce(pe["to"], pe["sender"])),
        ("meshswap", lambda: F.lower(pe["user"])),
        ("uniswap_v3", lambda: F.coalesce(pe["recipient"], pe["owner"], pe["sender"])),
        ("balancer_v2", lambda: F.lit(None).cast("string")),
        ("curve", lambda: pe["buyer"]),
        ("saddle", lambda: pe["buyer"]),
        ("dodo", lambda: F.coalesce(pe["buyer"], pe["seller"])),
        ("dodo_v2", lambda: F.lower(pe["trader"])),
        ("traderjoe_v2_1", lambda: F.coalesce(pe["to"], pe["sender"])),
        ("one_inch", lambda: F.lower(pe["account"])),
        ("sushiswap_bento", lambda: F.coalesce(pe["recipient"], pe["sender"])),
        ("wombat", lambda: F.lower(pe["to"])),
        ("carbondefi", lambda: F.lower(pe["trader"])),
        ("fjord", lambda: F.lower(pe["caller"])),
        ("bancor_v2", lambda: F.lower(F.coalesce(pe["_trader"], pe["_provider"]))),
    ])

    def amm_label(default):
        return F.coalesce(F.col("__pamm"), default) if has_amm else default

    amm = chain([
        ("uniswap_v2", lambda: amm_label(F.lit("uniswap_v2"))),
        ("uniswap_v3", lambda: amm_label(F.lit("uniswap_v3"))),
    ], default=amm_label(fam))
    pair = lambda: F.array(F.col("__t0"), F.col("__t1"))  # noqa: E731
    out_tokens = chain([
        ("uniswap_v2", lambda: F.col("__ptoks")),
        ("dmm", lambda: F.col("__ptoks")),
        ("uniswap_v3", lambda: F.col("__ptoks")),
        ("curve", pair),
        ("saddle", pair),
        ("balancer_v2", pair),
        ("wombat", pair),
        ("carbondefi", pair),
    ], default=F.slice("__ptoks", 1, 2))
    pool_address = (
        F.when(fam == "balancer_v2", F.lower(F.substring(pe["poolId"], 1, 42)))
        .otherwise(F.col("contract_address"))
        if "balancer_v2" in fams
        else F.col("contract_address")
    )
    factory = (
        F.when(in_event, F.col("contract_address")).otherwise(F.col("__pfactory"))
        if fams & _IN_EVENT_FAMILIES
        else F.col("__pfactory")
    )

    trades = ev.select(
        F.array(ra0, ra1).alias("token_amounts"),
        pool_address.alias("pool_address"),
        "transaction_hash",
        "log_index",
        "block_number",
        event_type.alias("event_type"),
        reserves.alias("token_reserves"),
        F.array(p0, p1).alias("token_prices"),
        out_tokens.alias("token_addresses"),
        factory.alias("factory_address"),
        wallet.alias("wallet_address"),
        amm.alias("amm"),
        fam.alias("__fam"),
        F.col("__t0"), F.col("__t1"), F.col("__s0"), F.col("__s1"),
    )

    if pool_balances is not None and "uniswap_v3" in fams:
        # v3 reserves: as-of against maintained pool balance history —
        # branch + union rather than a 12-tree fan-out. The split's two
        # branches would otherwise each EXECUTE the whole shared subtree
        # (parse + joins + window) — the union has no common-subplan reuse —
        # so pin it once with a lazy checkpoint (profiled: the in-loop raw
        # build ran ~2x the pool_balances=None cost before this barrier).
        trades = trades.localCheckpoint(eager=False)
        v3 = trades.filter(F.col("__fam") == "uniswap_v3")
        rest = trades.filter(F.col("__fam") != "uniswap_v3")
        v3 = _asof_pool_reserves(v3, pool_balances)
        trades = rest.unionByName(v3.select(*rest.columns))
    out = trades.drop("__fam", "__t0", "__t1", "__s0", "__s1")
    if "wombat" in fams:
        # wombat/platypus Deposit/Withdraw emit N-leg one-sided rows in pool
        # token order — a different row shape than the pair tree, unioned as
        # a (tiny) side branch only when the family is present in the batch
        out = out.unionByName(_wombat_liquidity(parsed_logs, pools, tokens))
    return out


def _lb_half(word, high: bool):
    """One uint128 half of a packed-amounts bytes32 ('0x' + 64 hex) →
    double. Left 32 hex chars = token Y (high bits), right 32 = token X
    (traderjoe_v2_1.py decode_amounts)."""
    from ethereum_etl_spark.functions.hex import hex_to_double

    h = F.substring(word, 3, 64)
    half = F.substring(h, 1, 32) if high else F.substring(h, 33, 32)
    return hex_to_double(F.concat(F.lit("0x"), half))


def _ratio_prices(a0, a1):
    """The two-token price pair derived from the swap's own amounts — the
    lake rendering wherever the reference point-calls RPC state for prices
    (its error fallback is 0; the trade ratio is strictly more faithful)."""
    p0 = F.when(a0 != 0, F.abs(a1 / a0)).otherwise(F.lit(0.0))
    p1 = F.when(a1 != 0, F.abs(a0 / a1)).otherwise(F.lit(0.0))
    return p0, p1


def _wombat_liquidity(
    parsed_logs: DataFrame, pools: DataFrame, tokens: DataFrame
) -> DataFrame:
    """Wombat/platypus Deposit/Withdraw → one-sided liquidity rows
    (wombat.py:115-129 resolve_receipt_log, :256-302
    _get_mint_burn_from_events): the event names its token; the amount
    lands at that token's POSITION in the pool's N-coin order, the other
    legs are 0. event_type = the lowercased event name ("deposit"/
    "withdraw"), exactly the reference's rendering (:295 — these are NOT
    folded into mint/burn, so the liquidity-event enrichment skips them
    there too). Reserves/prices: the reference point-calls asset cash/
    liability per coin (:137-171) — RPC state, 0-fallback here. The
    reference's lp_token_address side-channel (burned-underlying scan)
    has no column in this schema and is dropped.

    Platypus pools (PoolSecondary.json — byte-identical events) attribute
    through the pool dimension's ``amm`` label."""
    ev = parsed_logs.filter(
        F.array_contains(F.col("namespace"), "wombat")
        & F.col("event_name").isin("Deposit", "Withdraw")
    )
    pe = F.col("parsed_event")
    pcols = [
        F.col("address").alias("contract_address"),
        F.col("factory_address").alias("__pfactory"),
        F.transform("token_addresses", F.lower).alias("__ptoks"),
    ]
    if "amm" in pools.columns:
        pcols.append(F.col("amm").alias("__pamm"))
    ev = ev.join(F.broadcast(pools.select(*pcols)), on="contract_address", how="inner")
    ev = ev.withColumns(
        {
            "__tok": F.lower(pe["token"]),
            "__pos": F.array_position(F.col("__ptoks"), F.lower(pe["token"])),
        }
    ).filter(F.col("__pos") > 0)
    ev = ev.join(
        F.broadcast(
            tokens.select(
                F.lower(F.col("address")).alias("__tok"),
                F.col("decimals").alias("__dec"),
            )
        ),
        on="__tok",
        how="left",
    )
    # scaled once per row, outside the per-leg transform lambda
    ev = ev.withColumn(
        "__amt", _pe("amount") / F.pow(F.lit(10.0), F.coalesce("__dec", F.lit(18)))
    )
    pos = F.col("__pos")
    zeros = F.transform("__ptoks", lambda _: F.lit(0.0))
    amounts = F.transform(
        "__ptoks",
        lambda _, i: F.when(i + 1 == pos, F.col("__amt")).otherwise(F.lit(0.0)),
    )
    return ev.select(
        amounts.alias("token_amounts"),
        F.col("contract_address").alias("pool_address"),
        "transaction_hash",
        "log_index",
        "block_number",
        F.lower(F.col("event_name")).alias("event_type"),
        zeros.alias("token_reserves"),
        zeros.alias("token_prices"),
        F.col("__ptoks").alias("token_addresses"),
        F.col("__pfactory").alias("factory_address"),
        F.lower(pe["to"]).alias("wallet_address"),
        (
            F.coalesce(F.col("__pamm"), F.lit("wombat"))
            if "amm" in pools.columns
            else F.lit("wombat")
        ).alias("amm"),
    )
