"""Driver-harness query registry: Spark queries + DuckDB oracle SQL pairs.

Each entry demonstrates one operator family from SURVEY.md §2 (or a
training-data-pipeline op from the brief) over the driver's TPC-H-ish
testdata. Naming contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver hash-compares columns by
sorted name). Determinism contract: all float aggregation goes through
DECIMAL casts (exact, order-independent) with a final double round; all
argmin/argmax carry a unique tiebreak; all top-k orderings are total.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ethereum_etl_spark.operators.candles import ohlcv, salted_sum
from ethereum_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from ethereum_etl_spark.operators.enrich import missing_keys_anti_join
from ethereum_etl_spark.operators.multimodal import extract_media_features, synthesize_media
from ethereum_etl_spark.operators.similarity import brute_force_topk, nearest_centroid, srp_lsh_buckets
from ethereum_etl_spark.operators.text import analyze_documents
from ethereum_etl_spark.operators.transfers import TRANSFER_EVENT_TOPIC, extract_token_transfers

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def ld(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _dec(c, p=18, s=4):
    return F.col(c).cast(f"decimal({p},{s})")


def _fits_broadcast(spark: SparkSession, df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` is within
    spark.sql.autoBroadcastJoinThreshold (a negative threshold turns
    broadcasting off) — the test the planner applies to unhinted joins."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    return 0 <= est <= limit


# ---------------------------------------------------------------------------
# CDC / warehouse core (SURVEY §2.4-2.8)
# ---------------------------------------------------------------------------

@_q(
    "q01_latest_event_per_key",
    """
    SELECT user_id, event_type, event_id AS last_event_id,
           value AS last_value, epoch_us(ts) AS last_ts_us
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id, event_type
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    """,
)
def q01(spark, sf):
    """W4: ReplacingMergeTree FINAL read — the canonical CDC dedup
    (clickhouse_eth_streamer_adapter.py:81-86).

    r6: row_number()-over-window → max_by aggregation. The window plan
    (even with Spark's WindowGroupLimit partial top-1) SORTS every row
    inside the scan task and shuffles whole rows; max_by over the
    (ts, event_id) ordering struct is a hash aggregate with map-side
    partial aggregation — no sort, and only one pre-aggregated row per
    (user_id, event_type) crosses the exchange (guide §2.3 'aggregate
    before you shuffle'). Picks the identical row: lexicographic struct
    max == ORDER BY ts DESC, event_id DESC first row (ts/event_id are
    non-null; oracle-checked)."""
    e = ld(spark, sf, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.max_by(
                F.struct("event_id", "value", "ts"), F.struct("ts", "event_id")
            ).alias("__m")
        )
        .select(
            "user_id",
            "event_type",
            F.col("__m.event_id").alias("last_event_id"),
            F.col("__m.value").alias("last_value"),
            F.unix_micros(F.col("__m.ts").cast("timestamp")).alias("last_ts_us"),
        )
    )


@_q(
    "q02_enrich_broadcast_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q02(spark, sf):
    """J3: child × parent broadcast enrich (enrich.py:120-407)."""
    li = ld(spark, sf, "lineitem")
    o = ld(spark, sf, "orders").select(
        "o_orderkey", "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "o_orderpriority",
    )
    return li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_custkey", "order_date", "o_orderpriority"
    )


@_q(
    "q03_dedup_one_to_one_join",
    """
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment
    FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders) o
    JOIN (SELECT DISTINCT c_custkey, c_name, c_mktsegment FROM customer) c
      ON o.o_custkey = c.c_custkey
    """,
)
def q03(spark, sf):
    """J2: dedup-then-join 1:1 (enrich_transactions, enrich.py:71-117)."""
    o = ld(spark, sf, "orders").select("o_orderkey", "o_custkey").dropDuplicates(["o_orderkey"])
    c = (
        ld(spark, sf, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
        .dropDuplicates(["c_custkey"])
    )
    return o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name", "c_mktsegment")


@_q(
    "q04_consistency_check",
    """
    SELECT l_orderkey, count(*) AS n_lines, max(l_linenumber) AS max_line,
           (count(*) <> max(l_linenumber)) AS mismatch
    FROM lineitem GROUP BY l_orderkey
    HAVING count(*) <> max(l_linenumber) OR count(*) > 5
    """,
)
def q04(spark, sf):
    """J8: count-consistency check (scripts/check_data_consistency.py:32-104)."""
    li = ld(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"), F.max("l_linenumber").alias("max_line"))
        .filter((F.col("n_lines") != F.col("max_line")) | (F.col("n_lines") > 5))
        .withColumn("mismatch", F.col("n_lines") != F.col("max_line"))
    )


@_q(
    "q05_missing_keys_anti_join",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q05(spark, sf):
    """U2/J9: left_anti missing-dimension keys
    (clickhouse_eth_streamer_adapter.py:372-392)."""
    return missing_keys_anti_join(
        ld(spark, sf, "customer").withColumnRenamed("c_custkey", "k"),
        ld(spark, sf, "orders").withColumnRenamed("o_custkey", "k"),
        "k",
    ).select(F.col("k").alias("c_custkey"))


@_q(
    "q06_distinct_pairs",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def q06(spark, sf):
    """U3/A6: exact-row distinct (utils.py:165-173)."""
    return ld(spark, sf, "events").select("user_id", "event_type").distinct()


@_q(
    "q07_topk_revenue",
    """
    SELECT o_custkey,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
    FROM orders GROUP BY o_custkey
    ORDER BY revenue DESC, o_custkey LIMIT 10
    """,
)
def q07(spark, sf):
    """O: top-k with total ordering (per-partition top-k + merge)."""
    return (
        ld(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum(_dec("o_totalprice", 18, 2)).cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_custkey")
        .limit(10)
    )


@_q(
    "q08_window_enumerate",
    """
    SELECT l_orderkey, l_linenumber,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber) AS line_seq
    FROM lineitem WHERE l_orderkey <= 512
    """,
)
def q08(spark, sf):
    """W1/P12: within-group enumeration (export_traces_job.py:110-113)."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        ld(spark, sf, "lineitem")
        .filter("l_orderkey <= 512")
        .select("l_orderkey", "l_linenumber", F.row_number().over(w).alias("line_seq"))
    )


@_q(
    "q09_ohlcv_candles",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bs, ts, event_id,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    o AS (SELECT event_type, bs, v,
                 row_number() OVER (PARTITION BY event_type, bs ORDER BY ts, event_id) rn
          FROM b),
    c AS (SELECT event_type, bs, v,
                 row_number() OVER (PARTITION BY event_type, bs ORDER BY ts DESC, event_id DESC) rn
          FROM b),
    a AS (SELECT event_type, bs,
                 CAST(max(v) AS DOUBLE) AS high, CAST(min(v) AS DOUBLE) AS low,
                 round(CAST(sum(abs(v)) AS DOUBLE), 4) AS volume,
                 count(*) AS trades
          FROM b GROUP BY event_type, bs)
    SELECT a.event_type, strftime(a.bs, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           CAST(o.v AS DOUBLE) AS open, a.high, a.low, CAST(c.v AS DOUBLE) AS close,
           a.volume, a.trades
    FROM a
    JOIN o ON o.event_type = a.event_type AND o.bs = a.bs AND o.rn = 1
    JOIN c ON c.event_type = a.event_type AND c.bs = a.bs AND c.rn = 1
    """,
)
def q09(spark, sf):
    """A1: OHLCV candles (schema.sql:92-146) via the candles operator."""
    e = ld(spark, sf, "events").withColumn("v", _dec("value", 18, 6))
    out = ohlcv(e, key_col="event_type", ts_col="ts", value_col="v", tiebreak_col="event_id")
    return out.select(
        "event_type",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
        F.round(F.col("volume").cast("double"), 4).alias("volume"),
        "trades",
    )


@_q(
    "q10_hourly_activity",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, count(*) AS n, count(DISTINCT user_id) AS uniq_users
    FROM events GROUP BY 1, 2
    """,
)
def q10(spark, sf):
    """A4+A2(exact): time-bucketed counts + distinct users."""
    return (
        ld(spark, sf, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("uniq_users"))
    )


@_q(
    "q11_latest_value_per_type",
    """
    SELECT event_type, value AS last_value, event_id AS last_event_id
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY ts DESC, event_id DESC) rn
          FROM events) WHERE rn = 1
    """,
)
def q11(spark, sf):
    """A10: argmax — latest value per series (ch_adapter:572-593) via max_by."""
    e = ld(spark, sf, "events")
    order = F.struct(F.col("ts"), F.col("event_id"))
    return e.groupBy("event_type").agg(
        F.max_by("value", order).alias("last_value"),
        F.max_by("event_id", order).alias("last_event_id"),
    )


@_q(
    "q12_range_for_window",
    """
    SELECT min(event_id) AS min_id, max(event_id) AS max_id, count(*) AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def q12(spark, sf):
    """S13: timestamp range → id range (eth_service.py:41-74 made trivial)."""
    e = ld(spark, sf, "events")
    return e.filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
    ).agg(
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "q13_item_id_stamp",
    """
    SELECT 'order_' || o_orderkey AS item_id,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS item_timestamp,
           o_orderkey
    FROM orders WHERE o_orderkey <= 2048
    """,
)
def q13(spark, sf):
    """P13: item_id + RFC3339 stamping (eth_item_id_calculator.py:54-73)."""
    return (
        ld(spark, sf, "orders")
        .filter("o_orderkey <= 2048")
        .select(
            F.concat_ws("_", F.lit("order"), F.col("o_orderkey")).alias("item_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("item_timestamp"),
            "o_orderkey",
        )
    )


@_q(
    "q14_membership_classify",
    """
    SELECT CASE WHEN event_type IN ('click', 'purchase') THEN 'engaged'
                ELSE 'passive' END AS cls,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def q14(spark, sf):
    """S7/P18: set-membership filter/classify (isin broadcast literal)."""
    return (
        ld(spark, sf, "events")
        .withColumn(
            "cls",
            F.when(F.col("event_type").isin("click", "purchase"), "engaged").otherwise("passive"),
        )
        .groupBy("cls")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "q15_union_dedup",
    """
    SELECT DISTINCT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL SELECT s_nationkey FROM supplier)
    """,
)
def q15(spark, sf):
    """U1: union of sources + dedup (eth_streamer_adapter.py:201-210)."""
    c = ld(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = ld(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@_q(
    "q16_hex_encode",
    """
    SELECT o_orderkey, lower(to_hex(o_orderkey)) AS hex_key,
           '0x' || lpad(lower(to_hex(o_orderkey)), 16, '0') AS padded_word
    FROM orders WHERE o_orderkey <= 1024
    """,
)
def q16(spark, sf):
    """P1/P17: hex encode + ABI-style zero-padding (json_rpc_requests.py:80-122)."""
    return (
        ld(spark, sf, "orders")
        .filter("o_orderkey <= 1024")
        .select(
            "o_orderkey",
            F.lower(F.hex("o_orderkey")).alias("hex_key"),
            F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("o_orderkey")), 16, "0")).alias("padded_word"),
        )
    )


@_q(
    "q17_tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(1 - l_discount AS DECIMAL(18,2)) *
                          CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q17(spark, sf):
    """TPC-H Q1 pricing summary: partial-agg heavy groupBy (A-family)."""
    li = ld(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    ep = _dec("l_extendedprice", 18, 2)
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    tax = (F.lit(1) + F.col("l_tax")).cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity", 18, 2)).cast("double").alias("sum_qty"),
        F.sum(ep).cast("double").alias("sum_base_price"),
        F.round(F.sum(ep * disc).cast("double"), 2).alias("sum_disc_price"),
        F.round(F.sum(ep * disc * tax).cast("double"), 2).alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_q(
    "q18_tpch_q3_shipping",
    """
    SELECT l.l_orderkey,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                          CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """,
)
def q18(spark, sf):
    """TPC-H Q3 variant: 3-way join + agg + total-ordered top-k."""
    c = ld(spark, sf, "customer").filter("c_mktsegment = 'BUILDING'")
    o = ld(spark, sf, "orders")
    li = ld(spark, sf, "lineitem")
    rev = _dec("l_extendedprice", 18, 2) * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@_q(
    "q19_region_revenue",
    """
    SELECT r.r_name,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                          CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
           count(*) AS n_lines
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name
    """,
)
def q19(spark, sf):
    """TPC-H Q5 flavor: star join through broadcast dims, lineitem kept as
    the PROBE side.

    r6: size estimates made Catalyst broadcast the pruned LINEITEM scan
    (the 6M-row fact table, est. ~23 MB of 3 columns < the 64 MB
    threshold) and probe with the dim chain — the driver built a 6M-entry
    hashed relation single-threaded, 11s at sf1.0 (plan in
    plans/r06/q19_region_revenue_before.txt, node 20). Explicit broadcast
    hints on the DIM side of every join force the fact table to stay
    un-collected and un-shuffled (guide §3.1: estimates are often wrong —
    hint the side you know is small). The orders-side hint is given only
    while that side fits the broadcast threshold; past it the final join
    is left unhinted, for AQE to choose — the dims chain stays
    broadcast."""
    r = ld(spark, sf, "region")
    n = ld(spark, sf, "nation")
    c = ld(spark, sf, "customer")
    o = ld(spark, sf, "orders")
    li = ld(spark, sf, "lineitem")
    rev = _dec("l_extendedprice", 18, 2) * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    ords = o.join(F.broadcast(dims), o.o_custkey == dims.c_custkey).select(
        "o_orderkey", "r_name"
    )
    # an order has one customer, so ords holds at most one row per order:
    # the orders scan pruned to two columns sizes it (the optimizer's
    # estimate of the join itself multiplies the sizes of its inputs)
    if _fits_broadcast(spark, o.select("o_orderkey", "o_custkey")):
        ords = F.broadcast(ords)
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_q(
    "q20_rollup_counts",
    """
    SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
           count(*) AS n
    FROM events GROUP BY ROLLUP(event_type, d)
    """,
)
def q20(spark, sf):
    """Multi-resolution rollup — the GROUPING SETS rendering of the 4
    parallel candle-granularity MVs (SURVEY §2.5)."""
    return (
        ld(spark, sf, "events")
        .withColumn("d", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .rollup("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "q21_salted_skew_agg",
    """
    SELECT event_type,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_v
    FROM events GROUP BY event_type
    """,
)
def q21(spark, sf):
    """Skew mitigation: salted two-stage agg ≡ plain groupBy (SURVEY §4)."""
    e = ld(spark, sf, "events").withColumn("v", _dec("value", 18, 6))
    out = salted_sum(e, "event_type", "v", salt_buckets=16)
    return out.select("event_type", F.round(F.col("sum_v").cast("double"), 4).alias("sum_v"))


@_q(
    "q22_json_props_extract",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def q22(spark, sf):
    """Map/JSON surface (SURVEY §2.9): parse the props JSON column."""
    return (
        ld(spark, sf, "events")
        .select(F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Flagship decode parity (P3) — synthetic logs derived from lineitem in SQL
# ---------------------------------------------------------------------------

@_q(
    "q23_erc20_decode_parity",
    f"""
    SELECT '0x' || lpad(lower(to_hex(l_partkey)), 40, '0') AS token_address,
           'ERC-20' AS token_standard,
           '0x' || lpad(lower(to_hex(l_suppkey)), 40, '0') AS from_address,
           '0x' || lpad(lower(to_hex(l_orderkey)), 40, '0') AS to_address,
           CAST(l_quantity AS BIGINT) AS value,
           md5(l_orderkey || ':' || l_linenumber) AS transaction_hash,
           l_linenumber AS log_index,
           l_orderkey AS block_number
    FROM lineitem
    """,
)
def q23(spark, sf):
    """P3 flagship: ERC-20 log decode. Logs are fabricated columnar from
    lineitem (so the oracle can rebuild them in SQL), then run through the
    REAL extract_token_transfers operator.

    The repartition fans the CPU-bound decode out to every core: the sf0.1
    lineitem parquet yields only ~3 scan splits even at 16 MB
    maxPartitionBytes, leaving 29 of 32 cores idle (measured 12.7s → 2.7s).
    At 100 TB the scan has thousands of splits and the rebalance is a no-op
    cost-wise (one narrow shuffle of the raw scan columns)."""
    li = ld(spark, sf, "lineitem").repartition(spark.sparkContext.defaultParallelism)
    logs = li.select(
        F.col("l_linenumber").cast("int").alias("log_index"),
        F.md5(F.concat_ws(":", "l_orderkey", "l_linenumber")).alias("transaction_hash"),
        F.col("l_orderkey").alias("block_number"),
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("l_partkey")), 40, "0")).alias("address"),
        F.concat(
            F.lit("0x"), F.lpad(F.lower(F.hex(F.col("l_quantity").cast("long"))), 64, "0")
        ).alias("data"),
        F.array(
            F.lit(TRANSFER_EVENT_TOPIC),
            F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("l_suppkey")), 64, "0")),
            F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("l_orderkey")), 64, "0")),
        ).alias("topics"),
    )
    return extract_token_transfers(logs).select(
        "token_address",
        "token_standard",
        "from_address",
        "to_address",
        F.col("value").cast("long").alias("value"),
        "transaction_hash",
        "log_index",
        "block_number",
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops: text, dedup, similarity
# ---------------------------------------------------------------------------

_SW = "('the','a','an','and','or','of','to','in','is','it')"
_TOKENS_SQL = "list_filter(string_split_regex(trim({c}), '\\s+'), x -> x != '')"


@_q(
    "q24_doc_stats",
    f"""
    WITH t AS (
      SELECT *,
             len({_TOKENS_SQL.format(c='text')}) AS n_tokens,
             len(list_filter({_TOKENS_SQL.format(c='lower(text)')},
                             x -> x IN {_SW})) AS n_sw,
             len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           round(0.4 * least(length(text) / 500.0, 1.0)
               + 0.4 * least(n_sw / greatest(n_tokens, 1) * 5, 1.0)
               + 0.2 * (1 - least(n_punct / greatest(length(text), 1) * 10, 1.0)), 4)
             AS quality,
           CASE WHEN n_sw / greatest(n_tokens, 1) >= 0.12 THEN 'en'
                ELSE 'other' END AS lang_pred,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                                   '\\s+', ' ', 'g'))) AS fp
    FROM t
    """,
)
def q24(spark, sf):
    """Text analysis: token count, quality score, lang-ID, fingerprint."""
    return analyze_documents(ld(spark, sf, "documents")).select(
        "doc_id", "lang", "n_tokens", "quality", "lang_pred", "fp"
    )


@_q(
    "q25_exact_dedup",
    """
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                                   '\\s+', ' ', 'g'))) AS fp,
           count(*) AS n_docs, min(doc_id) AS canonical_id
    FROM documents GROUP BY 1
    """,
)
def q25(spark, sf):
    """Exact dedup: fingerprint groupBy (the hash-groupBy first pass)."""
    return exact_dedup(ld(spark, sf, "documents"))


_SHINGLES_SQL = """
    w AS (SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> x != '') AS wl
          FROM documents),
    dsh AS (SELECT DISTINCT doc_id, s FROM (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(wl) - 2),
                            i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])) AS s
              FROM w))
"""


@_q(
    "q26_ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLES_SQL},
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
          FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT p.id_a, p.id_b,
           round(p.common / (ca.n_sh + cb.n_sh - p.common), 4) AS jaccard
    FROM p JOIN cnt ca ON ca.doc_id = p.id_a JOIN cnt cb ON cb.doc_id = p.id_b
    WHERE round(p.common / (ca.n_sh + cb.n_sh - p.common), 4) >= 0.03
    """,
)
def q26(spark, sf):
    """n-gram Jaccard near-dup pairs (shingle-keyed self-join, no cross
    join)."""
    return ngram_jaccard_pairs(ld(spark, sf, "documents"), threshold=0.03)


@_q(
    "q27_minhash_lsh_pairs",
    f"""
    WITH {_SHINGLES_SQL},
    sigs AS (SELECT doc_id, seed, min(md5(seed || ':' || s)) AS mh
             FROM dsh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed)
             GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 2 AS band_id,
                     string_agg(mh, '|' ORDER BY seed) AS band_key
              FROM sigs GROUP BY doc_id, seed // 2),
    cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM bands x JOIN bands y
               ON x.band_id = y.band_id AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id),
    m AS (SELECT c.id_a, c.id_b,
                 sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS eq
          FROM cand c
          JOIN sigs sa ON sa.doc_id = c.id_a
          JOIN sigs sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
          GROUP BY 1, 2)
    SELECT id_a, id_b, round(eq / 16.0, 4) AS est_jaccard FROM m
    """,
)
def q27(spark, sf):
    """MinHash+LSH near-dup candidates: shingle→minhash→band→bucket-join."""
    return minhash_lsh_pairs(
        ld(spark, sf, "documents"), num_hashes=16, bands=8
    )


@_q(
    "q28_embedding_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT vec_id,
                 round(list_dot_product(embedding::DOUBLE[], qv) /
                       (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                        sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
          FROM embeddings, q)
    SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def q28(spark, sf):
    """ANN baseline: brute-force cosine top-k vs the vec_id=0 query vector."""
    emb = ld(spark, sf, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return brute_force_topk(emb, qv, k=10)


@_q("q29_nearest_centroid", None)  # oracle attached below (needs centroids)
def q29(spark, sf):
    """IVF build step: nearest-centroid assignment counts (centroids =
    embeddings of vec_id 0,1,2)."""
    emb = ld(spark, sf, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter("vec_id IN (0,1,2)").orderBy("vec_id").collect()
    ]
    asg = nearest_centroid(emb, cents)
    return asg.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_vectors"))


ORACLES["q29_nearest_centroid"] = """
    WITH c AS (
      SELECT (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0) AS c0,
             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 1) AS c1,
             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 2) AS c2
    ),
    s AS (SELECT vec_id,
            round(list_dot_product(embedding::DOUBLE[], c0) /
                  (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                   sqrt(list_dot_product(c0, c0))), 6) AS s0,
            round(list_dot_product(embedding::DOUBLE[], c1) /
                  (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                   sqrt(list_dot_product(c1, c1))), 6) AS s1,
            round(list_dot_product(embedding::DOUBLE[], c2) /
                  (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                   sqrt(list_dot_product(c2, c2))), 6) AS s2
          FROM embeddings, c)
    SELECT CASE WHEN s2 >= s1 AND s2 >= s0 THEN 2
                WHEN s1 >= s0 THEN 1 ELSE 0 END AS centroid_id,
           count(*) AS n_vectors
    FROM s GROUP BY 1
"""


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )


_IVF_ORACLE = f"""
    WITH cq AS (
      SELECT (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0) AS c0,
             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 1) AS c1,
             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 2) AS c2,
             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7) AS q
      ),
    cells AS (
      SELECT 0 AS cid, {_cos_sql('c0', 'q')} AS s FROM cq
      UNION ALL SELECT 1, {_cos_sql('c1', 'q')} FROM cq
      UNION ALL SELECT 2, {_cos_sql('c2', 'q')} FROM cq),
    probe AS (SELECT cid FROM cells ORDER BY s DESC, cid LIMIT 2),
    s AS (
      SELECT vec_id,
             {_cos_sql('embedding::DOUBLE[]', 'c0')} AS s0,
             {_cos_sql('embedding::DOUBLE[]', 'c1')} AS s1,
             {_cos_sql('embedding::DOUBLE[]', 'c2')} AS s2,
             {_cos_sql('embedding::DOUBLE[]', 'q')} AS sq
      FROM embeddings, cq),
    asg AS (
      SELECT vec_id, sq,
             CASE WHEN s2 >= s1 AND s2 >= s0 THEN 2
                  WHEN s1 >= s0 THEN 1 ELSE 0 END AS cell
      FROM s)
    SELECT vec_id, sq AS cos_sim FROM asg
    WHERE cell IN (SELECT cid FROM probe)
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@_q("q40_ivf_topk", _IVF_ORACLE)
def q40(spark, sf):
    """IVF-ANN query path: assignments are BUILT ONCE and persisted
    partitioned by cell (the 100 TB layout: probing = partition pruning,
    each query scans ~n_probe/K of the table), then the query ranks cells
    driver-side, filters to the 2 nearest, and re-ranks exactly inside.
    Centroids = embeddings 0-2, query = embedding 7 — all reconstructable
    by the SQL oracle, which mirrors the probe selection and the
    higher-cid-wins argmax tie rule of nearest_centroid."""
    import hashlib as _hl
    import os as _os

    from ethereum_etl_spark.operators.similarity import ivf_topk, nearest_centroid

    emb = ld(spark, sf, "embeddings")
    rows = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.filter("vec_id IN (0,1,2,7)").collect()}
    cents = [rows[0], rows[1], rows[2]]
    apath = f"/tmp/ivf_assign_{_hl.md5(sf.encode()).hexdigest()[:10]}.parquet"
    if not _os.path.exists(_os.path.join(apath, "_SUCCESS")):
        nearest_centroid(emb, cents).select("vec_id", "centroid_id").write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(apath)
    assignments = spark.read.parquet(apath)
    return ivf_topk(
        emb, cents, rows[7], k=10, n_probe=2, assignments=assignments
    )


def _srp_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        out.append(row)
    return out


def _srp_oracle() -> str:
    planes = _srp_planes()
    bits = []
    for p in planes:
        lit = "[" + ",".join(str(int(x)) for x in p) + "]::DOUBLE[]"
        bits.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) >= 0 THEN '1' ELSE '0' END"
        )
    return f"SELECT vec_id, {' || '.join(bits)} AS bucket FROM embeddings"


@_q("q30_srp_lsh_buckets", _srp_oracle())
def q30(spark, sf):
    """Similarity LSH: signed-random-projection buckets (deterministic
    md5-seeded hyperplanes, shared verbatim with the oracle)."""
    return srp_lsh_buckets(ld(spark, sf, "embeddings"))


# --- rows-only checks (non-SQL-expressible or stubbed surface) -------------

@_q(
    "q36_minhash_lsh_fast",
    f"""
    WITH {_SHINGLES_SQL},
    sigs AS (SELECT doc_id, seed, min(md5(seed || ':' || s)) AS mh
             FROM dsh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed)
             GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band_id,
                     string_agg(mh, '|' ORDER BY seed) AS band_key
              FROM sigs GROUP BY doc_id, seed // 4),
    capped AS (SELECT * FROM (
                 SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS bn
                 FROM bands)
               WHERE bn <= 64),
    cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM capped x JOIN capped y
               ON x.band_id = y.band_id AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id),
    m AS (SELECT c.id_a, c.id_b,
                 sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS eq
          FROM cand c
          JOIN sigs sa ON sa.doc_id = c.id_a
          JOIN sigs sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
          GROUP BY 1, 2)
    SELECT id_a, id_b, round(eq / 16.0, 4) AS est_jaccard FROM m
    """,
)
def q36(spark, sf):
    """MinHash+LSH with the SCALE-PATH parameters: 4-slot bands (collision
    prob j^4 — far fewer candidate pairs than q27's 2-slot bands) plus the
    ``max_bucket`` mega-bucket guard. md5 slot hashing so the oracle is
    bit-identical; bench.py additionally times the xxhash64 twin (same plan,
    JVM 64-bit hashing, no hex-string materialization) as the 100 TB run
    configuration."""
    return minhash_lsh_pairs(
        ld(spark, sf, "documents"),
        num_hashes=16,
        bands=4,
        hash_fn="md5",
        max_bucket=64,  # drop boilerplate mega-buckets (quadratic guard)
    )


def _simhash_oracle(max_hamming: int = 8) -> str:
    """DuckDB mirror of simhash64 + an ALL-PAIRS Hamming filter. The Spark
    side generates candidates by chunk-equality LSH; comparing against the
    exhaustive oracle proves the candidate generation is complete for the
    radius (the pigeonhole guarantee), not just that Hamming math agrees."""
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(bits, v -> (v >> {k}) & 1 = 1)) > n "
        f"THEN {1 << k}::BIGINT ELSE 0 END)"
        for k in range(60)
    )
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
      FROM documents),
    b AS (
      SELECT doc_id, len(toks) AS n,
             list_transform(toks,
                            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS bits
      FROM w),
    s AS (SELECT doc_id, ({bit_terms})::BIGINT AS sig FROM b)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


@_q("q31_simhash_near_dups", _simhash_oracle(8))
def q31(spark, sf):
    """SimHash near-dup pairs (bit-level Hamming). Oracle = exhaustive
    all-pairs Hamming filter in DuckDB — equality proves LSH candidate
    completeness at this radius."""
    out = simhash_near_dups(ld(spark, sf, "documents"), max_hamming=8)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@_q("q32_media_features", None)
def q32(spark, sf):
    """Multimodal decode: binary payload → mapInPandas feature extraction.
    Image (REAL pure-stdlib PNG inflate+unfilter) and audio (REAL WAV/PCM)
    decode with mean-luma/RMS features; video demux stays stubbed (no
    pure-Python codec; env lacks ffmpeg). Rows-only check — the decode is
    not SQL-expressible; exact-value coverage lives in tests/
    test_multimodal.py against independent reference decodes."""
    media = synthesize_media(spark, n=200)
    return (
        extract_media_features(media)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.count("decoded_width").alias("n_decoded"),
            F.round(F.sum("feature"), 6).alias("feature_sum"),
        )
    )


@_q(
    "q34_trace_flatten_parity",
    """
    WITH base AS (
      SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             (o_orderkey % 13 = 0) AS child_fails
      FROM orders WHERE o_orderkey <= 4096
    )
    SELECT o_orderkey AS block_number, tx AS transaction_hash,
           'call' AS trace_type, 'call' AS call_type, 1 AS status,
           1 AS subtraces, '' AS trace_path,
           'call_' || tx || '_' AS trace_id,
           CAST(o_custkey AS BIGINT) AS value
    FROM base JOIN orders USING (o_orderkey)
    UNION ALL
    SELECT o_orderkey, tx, 'call', 'staticcall',
           CASE WHEN child_fails THEN 0 ELSE 1 END, 0, '0',
           'call_' || tx || '_0', CAST(NULL AS BIGINT)
    FROM base
    """,
)
def q34(spark, sf):
    """P5/P10/P11: geth call-tree flatten with status inheritance and
    trace-id stamping, oracle-checked — trees fabricated from orders so the
    oracle can enumerate the expected flat rows in pure SQL."""
    from ethereum_etl_spark.operators.traces import flatten_geth_traces

    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    hx = F.concat(F.lit("0x"), F.lower(F.hex(F.col("o_custkey"))))
    child = F.struct(
        F.lit("STATICCALL").alias("type"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("boom")).alias("error"),
    )
    geth = o.select(
        F.md5(F.col("o_orderkey").cast("string")).alias("transaction_hash"),
        F.col("o_orderkey").alias("block_number"),
        F.to_json(
            F.struct(
                F.lit("CALL").alias("type"),
                hx.alias("value"),
                F.array(child).alias("calls"),
            )
        ).alias("transaction_traces"),
    )
    flat = flatten_geth_traces(geth)
    return flat.select(
        "block_number",
        "transaction_hash",
        "trace_type",
        "call_type",
        "status",
        "subtraces",
        F.concat_ws(",", F.transform("trace_address", lambda x: x.cast("string"))).alias("trace_path"),
        "trace_id",
        F.col("value").cast("long").alias("value"),
    )


def _null_addr_sql() -> str:
    from ethereum_etl_spark.operators.balances import NULL_ADDRESSES

    return ", ".join(f"'{a}'" for a in NULL_ADDRESSES)


@_q(
    "q35_token_balances_cumsum",
    f"""
    WITH legs AS (
      SELECT '0x' || lpad(lower(to_hex(l_partkey)), 40, '0') AS token_address,
             '0x' || lpad(lower(to_hex(l_suppkey)), 40, '0') AS holder_address,
             l_orderkey AS block_number, -CAST(l_quantity AS BIGINT) AS delta
      FROM lineitem
      UNION ALL
      SELECT '0x' || lpad(lower(to_hex(l_partkey)), 40, '0'),
             '0x' || lpad(lower(to_hex(l_orderkey)), 40, '0'),
             l_orderkey, CAST(l_quantity AS BIGINT)
      FROM lineitem),
    per_block AS (
      SELECT token_address, holder_address, block_number, sum(delta) AS d
      FROM legs
      -- mint/burn legs on the full reference NULL-address set are skipped
      -- (P18, misc/info.py:5-31; the list below is generated from
      -- operators.balances.NULL_ADDRESSES): suppkeys 1-9 land on the
      -- precompile addresses and orderkey 57005 = 0xdead on the burn
      -- address, exercising the rule
      WHERE holder_address NOT IN ({_null_addr_sql()})
      GROUP BY 1, 2, 3)
    SELECT token_address, holder_address, block_number,
           CAST(sum(d) OVER (PARTITION BY token_address, holder_address
                             ORDER BY block_number) AS BIGINT) AS value
    FROM per_block
    """,
)
def q35(spark, sf):
    """Balance derivation (S8 rethought): per-key cumulative sums over
    transfer deltas — the token_balances operator against a SQL window
    oracle. Transfers fabricated from lineitem."""
    from ethereum_etl_spark.operators.balances import token_balances_from_transfers

    li = ld(spark, sf, "lineitem")
    tt = li.select(
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("l_partkey")), 40, "0")).alias("token_address"),
        F.lit("ERC-20").alias("token_standard"),
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("l_suppkey")), 40, "0")).alias("from_address"),
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("l_orderkey")), 40, "0")).alias("to_address"),
        F.col("l_quantity").cast("decimal(38,0)").alias("value"),
        F.col("l_orderkey").alias("block_number"),
        F.lit(None).cast("decimal(38,0)").alias("token_id"),
    )
    out = token_balances_from_transfers(tt)
    return out.select(
        "token_address", "holder_address", "block_number",
        F.col("value").cast("long").alias("value"),
    )


@_q(
    "q37_dex_trade_assembly",
    """
    WITH pairs AS (
      SELECT o_orderkey,
             '0x' || lpad(lower(to_hex(o_orderkey % 50)), 40, '0') AS pool_address,
             md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             CAST(o_custkey AS DOUBLE) AS a0in,
             -- the Spark side ABI-encodes the amount as a 64-bit word, i.e.
             -- the integer-truncated price; encode the SAME value here
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS a1out,
             CAST(1000 + o_orderkey % 97 AS DOUBLE) AS r0,
             CAST(5000 + o_orderkey % 89 AS DOUBLE) AS r1
      FROM orders WHERE o_orderkey <= 4096)
    SELECT pool_address, tx AS transaction_hash, o_orderkey AS block_number,
           'swap' AS event_type,
           round(a0in / 1000000.0, 6) AS amount0,
           -- '+ 0.0' normalizes IEEE -0.0 (DuckDB round keeps the sign bit,
           -- Spark's BigDecimal round does not)
           round(-a1out / 1e18, 6) + 0.0 AS amount1,
           round(r0 / 1000000.0, 6) AS reserve0,
           round(r1 / 1e18, 6) AS reserve1,
           round((r1 / 1e18) / (r0 / 1000000.0), 6) AS price0
    FROM pairs
    """,
)
def q37(spark, sf):
    """J6/J7: DEX trade assembly — Sync+Swap logs fabricated from orders,
    parsed via the event inventory, assembled with as-of reserves; the
    oracle recomputes amounts/reserves/prices arithmetically in SQL."""
    from ethereum_etl_spark.operators.dex import (
        POOL_DDL,
        TOKEN_DIM_DDL,
        UNISWAP_V2_ABIS,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    SWAP, SYNC = UNISWAP_V2_ABIS[0], UNISWAP_V2_ABIS[1]
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.col("o_orderkey") % 50)), 40, "0"))
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    base = o.select(
        F.col("o_orderkey").alias("block_number"),
        F.md5(F.col("o_orderkey").cast("string")).alias("transaction_hash"),
        pool.alias("address"),
        F.col("o_custkey"),
        F.col("o_totalprice"),
    )
    sync_logs = base.select(
        F.lit(0).alias("log_index"), "transaction_hash",
        F.lit(0).alias("transaction_index"), F.lit("0xb").alias("block_hash"),
        "block_number", "address",
        F.concat(
            F.lit("0x"),
            w64(F.lit(1000) + F.col("block_number") % 97),
            w64(F.lit(5000) + F.col("block_number") % 89),
        ).alias("data"),
        F.array(F.lit(SYNC.topic0)).alias("topics"),
    )
    swap_logs = base.select(
        F.lit(1).alias("log_index"), "transaction_hash",
        F.lit(0).alias("transaction_index"), F.lit("0xb").alias("block_hash"),
        "block_number", "address",
        F.concat(
            F.lit("0x"), w64(F.col("o_custkey")), w64(F.lit(0)),
            w64(F.lit(0)), w64(F.col("o_totalprice").cast("long")),
        ).alias("data"),
        F.array(
            F.lit(SWAP.topic0), F.concat(F.lit("0x"), wallet_w), F.concat(F.lit("0x"), wallet_w)
        ).alias("topics"),
    )
    logs = sync_logs.unionByName(swap_logs)
    inv = build_inventory(spark, UNISWAP_V2_ABIS)
    parsed = parse_logs(logs, inv, UNISWAP_V2_ABIS)
    pools = spark.createDataFrame(
        [
            (f"0x{i % 50:040x}", "0xfac", ["0x" + "2" * 40, "0x" + "3" * 40], 3000, [])
            for i in range(50)
        ],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [("0x" + "2" * 40, "AAA", 6), ("0x" + "3" * 40, "BBB", 18)], TOKEN_DIM_DDL
    )
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["uniswap_v2"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        F.round(F.element_at("token_amounts", 1), 6).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(F.element_at("token_reserves", 1), 6).alias("reserve0"),
        F.round(F.element_at("token_reserves", 2), 6).alias("reserve1"),
        F.round(F.element_at("token_prices", 1), 6).alias("price0"),
    )


_REPO_WAL_ORACLE = """
    -- regenerates sources/wal.py:generate_repo_wal(n_commits=20,
    -- files_per_commit=50, n_repos=10, seed='42') field-for-field: the WAL
    -- is a pure function of (index, seed), so the oracle rebuilds it instead
    -- of needing a side-channel file
    WITH ev AS (
      SELECT (i // 50)::BIGINT AS commit_idx, i::BIGINT AS event_idx
      FROM (SELECT unnest(range(0, 1000)) AS i)),
    r AS (
      SELECT commit_idx,
             event_idx,
             CASE WHEN event_idx % 5 = 0 THEN event_idx // 7
                  ELSE event_idx END AS path_id
      FROM ev),
    rows_ AS (
      SELECT commit_idx AS seq,
             'repo-' || (event_idx % 10)::VARCHAR AS repo,
             'src/' || (path_id % 13)::VARCHAR || '/f' || path_id::VARCHAR
               || list_extract(['py','go','rs','js','java'],
                               (path_id % 5)::INT + 1) AS path,
             substr(sha256('42' || commit_idx::VARCHAR), 1, 40) AS commit,
             list_extract(['py','go','rs','js','java'],
                          (path_id % 5)::INT + 1) AS lang,
             '// 42 file ' || path_id::VARCHAR || ' rev '
               || commit_idx::VARCHAR || chr(10)
               || repeat('line of code ' || (event_idx % 97)::VARCHAR
                         || chr(10), 20) AS content
      FROM r)
    SELECT repo, path, commit, lang, sha256(content) AS content_sha
    FROM (SELECT *, row_number() OVER (
              PARTITION BY repo, path
              ORDER BY seq DESC, commit DESC) AS rn
          FROM rows_)
    WHERE rn = 1
"""


@_q("q33_repo_file_latest", _REPO_WAL_ORACLE)
def q33(spark, sf):
    """north_rule CDC query: latest file content per (repo, path) from the
    deterministic repo-file WAL, with per-row sha256 (the content-equality
    invariant). The oracle regenerates the same WAL in SQL (it is a pure
    function of index + seed) and applies the same latest-wins window."""
    from ethereum_etl_spark.sources.wal import generate_repo_wal

    wal = generate_repo_wal(spark, n_commits=20, files_per_commit=50, n_repos=10)
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc(), F.col("commit").desc())
    return (
        wal.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("repo", "path", "commit", "lang", F.sha2("content", 256).alias("content_sha"))
    )


@_q(
    "q38_uniswap_v3_trades",
    """
    WITH base AS (
      SELECT o_orderkey,
             '0x' || lpad(lower(to_hex(o_orderkey % 40)), 40, '0') AS pool_address,
             md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             o_custkey AS a0,
             CAST(floor(o_totalprice) AS BIGINT) * 1000000000000 AS a1mag,
             (o_orderkey % 900000 + 100000)::DOUBLE AS m
      FROM orders WHERE o_orderkey <= 4096)
    SELECT pool_address, tx AS transaction_hash, o_orderkey AS block_number,
           'swap' AS event_type,
           round(a0 / 1000000.0, 6) AS amount0,
           round(-a1mag / 1e18, 6) + 0.0 AS amount1,
           round((m * m) / 1e12, 6) AS price0,
           round(1e12 / (m * m), 6) AS price1,
           round((2000 + o_orderkey % 40)::DOUBLE, 6) AS reserve0,
           round((7000 + o_orderkey % 40)::DOUBLE, 6) AS reserve1
    FROM base
    """,
)
def q38(spark, sf):
    """Uniswap-V3 trade assembly: Swap logs with SIGNED int256 amounts (the
    out-token is a two's-complement negative — exercises the signed ABI
    decode end-to-end) and sqrtPriceX96 price math; reserves come from an
    as-of join against a pool-balance table (the lake rendering of the
    reference's balanceOf point calls). sqrtPriceX96 is fabricated as
    m·2^96 so price0 = (sqrtp²/2¹⁹²)/(s1/s0) = m²/10¹² exactly — the oracle
    recomputes it arithmetically."""
    from decimal import Decimal

    from ethereum_etl_spark.operators.dex import (
        POOL_DDL,
        TOKEN_DIM_DDL,
        UNISWAP_V3_ABIS,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    SWAP = UNISWAP_V3_ABIS[0]
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.col("o_orderkey") % 40)), 40, "0"))
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    # two's-complement 256-bit encoding of -v: NOT(word64(v-1)) via digit
    # translate — no 256-bit arithmetic needed
    def w64_neg(c):
        return F.translate(w64(c - 1), "0123456789abcdef", "fedcba9876543210")

    m = (F.col("o_orderkey") % 900000 + 100000).cast("long")
    sqrtp_word = F.lpad(F.concat(F.lower(F.hex(m)), F.lit("0" * 24)), 64, "0")
    a1mag = F.col("o_totalprice").cast("long") * F.lit(1_000_000_000_000)
    swap_logs = o.select(
        F.lit(1).alias("log_index"),
        F.md5(F.col("o_orderkey").cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        F.col("o_orderkey").alias("block_number"),
        pool.alias("address"),
        F.concat(
            F.lit("0x"),
            w64(F.col("o_custkey")),        # amount0 (positive int256)
            w64_neg(a1mag),                 # amount1 (negative int256)
            sqrtp_word,                     # sqrtPriceX96 = m * 2^96
            w64(F.lit(1)),                  # liquidity
            w64(F.lit(0)),                  # tick
        ).alias("data"),
        F.array(
            F.lit(SWAP.topic0),
            F.concat(F.lit("0x"), wallet_w),
            F.concat(F.lit("0x"), wallet_w),
        ).alias("topics"),
    )
    inv = build_inventory(spark, UNISWAP_V3_ABIS)
    parsed = parse_logs(swap_logs, inv, UNISWAP_V3_ABIS)
    pools = spark.createDataFrame(
        [
            (f"0x{i:040x}", "0xfac", ["0x" + "2" * 40, "0x" + "3" * 40], 3000, [])
            for i in range(40)
        ],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [("0x" + "2" * 40, "AAA", 6), ("0x" + "3" * 40, "BBB", 18)], TOKEN_DIM_DDL
    )
    pool_balances = spark.range(40).select(
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("id")), 40, "0")).alias("holder_address"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("0x" + "2" * 40).alias("token_address"),
                    ((F.col("id") + 2000) * F.lit(1_000_000)).cast("decimal(38,0)").alias("value"),
                ),
                F.struct(
                    F.lit("0x" + "3" * 40).alias("token_address"),
                    (
                        (F.col("id") + 7000).cast("decimal(38,0)")
                        * F.lit(10**18).cast("decimal(38,0)")
                    ).cast("decimal(38,0)").alias("value"),
                ),
            )
        ).alias("b"),
        F.lit(0).cast("long").alias("block_number"),
    ).select("holder_address", "b.token_address", "b.value", "block_number")
    t = extract_dex_trades_combined(
        parsed, pools, tokens, pool_balances=pool_balances, families=["uniswap_v3"]
    )
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        F.round(F.element_at("token_amounts", 1), 6).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(F.element_at("token_prices", 1), 6).alias("price0"),
        F.round(F.element_at("token_prices", 2), 6).alias("price1"),
        F.round(F.element_at("token_reserves", 1), 6).alias("reserve0"),
        F.round(F.element_at("token_reserves", 2), 6).alias("reserve1"),
    )


@_q(
    "q41_pool_discovery",
    """
    WITH s AS (SELECT s_suppkey AS k FROM supplier),
    v2 AS (
      SELECT '0x' || lpad(lower(to_hex(k * 2 + 1)), 40, '0') AS address,
             '0x' || lpad('fac2', 40, '0') AS factory_address,
             '0x' || lpad(lower(to_hex(k)), 40, '0') AS token0,
             '0x' || lpad(lower(to_hex(k + 1)), 40, '0') AS token1,
             3000 AS fee, 'uniswap_v2' AS amm, k AS block_number
      FROM s WHERE k % 2 = 0),
    v3 AS (
      SELECT '0x' || lpad(lower(to_hex(k * 2 + 1)), 40, '0') AS address,
             '0x' || lpad('fac3', 40, '0') AS factory_address,
             '0x' || lpad(lower(to_hex(k)), 40, '0') AS token0,
             '0x' || lpad(lower(to_hex(k + 1)), 40, '0') AS token1,
             CASE k % 3 WHEN 0 THEN 500 WHEN 1 THEN 3000 ELSE 10000 END AS fee,
             'uniswap_v3' AS amm, k AS block_number
      FROM s WHERE k % 2 = 1)
    SELECT address, factory_address, token0, token1, fee, amm, block_number
    FROM v2 UNION ALL SELECT * FROM v3
    """,
)
def q41(spark, sf):
    """Pool-discovery dimension from factory create events: PairCreated (v2)
    and PoolCreated (v3) logs fabricated from supplier keys, parsed via the
    factory event inventory, then derived into EthDexPool rows — the dex
    pipeline bootstraps its pools dimension from the log stream instead of
    being handed one."""
    from ethereum_etl_spark.operators.dex import FACTORY_ABIS, discover_pools
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    PAIR = next(
        a for a in FACTORY_ABIS
        if a.namespace == "uniswap_v2" and a.name == "PairCreated"
    )
    POOL = next(
        a for a in FACTORY_ABIS
        if a.namespace == "uniswap_v3" and a.name == "PoolCreated"
    )
    s = ld(spark, sf, "supplier").select(F.col("s_suppkey").alias("k"))

    def aw(c):  # address word from key-derived address
        return F.lpad(F.lower(F.hex(c)), 64, "0")

    common = [
        F.lit(0).alias("log_index"),
        F.md5(F.col("k").cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        F.col("k").alias("block_number"),
    ]
    v2_logs = s.filter("k % 2 = 0").select(
        *common,
        F.concat(F.lit("0x"), F.lpad(F.lit("fac2"), 40, "0")).alias("address"),
        F.concat(
            F.lit("0x"), aw(F.col("k") * 2 + 1), aw(F.lit(7))
        ).alias("data"),  # pair word + running-index word
        F.array(
            F.lit(PAIR.topic0),
            F.concat(F.lit("0x"), aw(F.col("k"))),
            F.concat(F.lit("0x"), aw(F.col("k") + 1)),
        ).alias("topics"),
    )
    fee = (
        F.when(F.col("k") % 3 == 0, 500)
        .when(F.col("k") % 3 == 1, 3000)
        .otherwise(10000)
    )
    v3_logs = s.filter("k % 2 = 1").select(
        *common,
        F.concat(F.lit("0x"), F.lpad(F.lit("fac3"), 40, "0")).alias("address"),
        F.concat(
            F.lit("0x"), aw(F.lit(60)), aw(F.col("k") * 2 + 1)
        ).alias("data"),  # tickSpacing word + pool word
        F.array(
            F.lit(POOL.topic0),
            F.concat(F.lit("0x"), aw(F.col("k"))),
            F.concat(F.lit("0x"), aw(F.col("k") + 1)),
            F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(fee)), 64, "0")),
        ).alias("topics"),
    )
    logs = v2_logs.unionByName(v3_logs)
    inv = build_inventory(spark, FACTORY_ABIS)
    parsed = parse_logs(logs, inv, FACTORY_ABIS)
    pools = discover_pools(parsed)
    return pools.select(
        "address",
        "factory_address",
        F.element_at("token_addresses", 1).alias("token0"),
        F.element_at("token_addresses", 2).alias("token1"),
        "fee",
        "amm",
        "block_number",
    )


@_q(
    "q39_priced_trades",
    """
    WITH pairs AS (
      SELECT o_orderkey,
             '0x' || lpad(lower(to_hex(o_orderkey % 50)), 40, '0') AS pool_address,
             md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             CAST(o_custkey AS DOUBLE) AS a0in,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS a1out,
             CAST(1000 + o_orderkey % 97 AS DOUBLE) AS r0,
             CAST(5000 + o_orderkey % 89 AS DOUBLE) AS r1
      FROM orders WHERE o_orderkey <= 4096),
    trades AS (
      -- both tokens use 6 decimals here: price magnitudes stay O(1), where
      -- DuckDB's float-based round(x, 6) and Spark's BigDecimal round agree
      -- bit-for-bit (at 1e11 magnitudes they differ by an ulp)
      SELECT pool_address, tx, o_orderkey AS bn, 1 AS li,
             a0in / 1000000.0 AS amount0,
             -a1out / 1000000.0 AS amount1,
             (r1 / 1000000.0) / (r0 / 1000000.0) AS price0,
             (r0 / 1000000.0) / (r1 / 1000000.0) AS price1
      FROM pairs),
    -- token0 ('0x22…') is the stablecoin: every trade emits a mark for
    -- token1 at price1 (stable units per token1); as-of = latest mark with
    -- (bn, li) <= the trade's own (inclusive — a trade prices itself)
    marked AS (
      SELECT *, last_value(CASE WHEN price1 > 0 THEN price1 END IGNORE NULLS)
                OVER (ORDER BY bn, li
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p1_asof
      FROM trades)
    SELECT pool_address, tx AS transaction_hash, bn AS block_number,
           round(1.0, 6) AS price_stable0,
           round(coalesce(p1_asof, 0.0), 6) AS price_stable1,
           round(abs(amount0) * 1.0, 6) AS amount_stable
    FROM marked
    """,
)
def q39(spark, sf):
    """USD pricing of trades (PriceService analog): v2 swaps on pools whose
    token0 is a stablecoin; every trade anchors a stable-price mark for
    token1, each trade takes the as-of mark, and amount_stable = the
    stablecoin leg's absolute amount. Mirrors q37's fabrication so the
    oracle can replay the mark/as-of logic in one SQL window."""
    from ethereum_etl_spark.operators.dex import (
        POOL_DDL,
        TOKEN_DIM_DDL,
        UNISWAP_V2_ABIS,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs
    from ethereum_etl_spark.operators.pricing import enrich_trades_usd

    SWAP, SYNC = UNISWAP_V2_ABIS[0], UNISWAP_V2_ABIS[1]
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.col("o_orderkey") % 50)), 40, "0"))
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    base = o.select(
        F.col("o_orderkey").alias("block_number"),
        F.md5(F.col("o_orderkey").cast("string")).alias("transaction_hash"),
        pool.alias("address"),
        F.col("o_custkey"),
        F.col("o_totalprice"),
    )
    sync_logs = base.select(
        F.lit(0).alias("log_index"), "transaction_hash",
        F.lit(0).alias("transaction_index"), F.lit("0xb").alias("block_hash"),
        "block_number", "address",
        F.concat(
            F.lit("0x"),
            w64(F.lit(1000) + F.col("block_number") % 97),
            w64(F.lit(5000) + F.col("block_number") % 89),
        ).alias("data"),
        F.array(F.lit(SYNC.topic0)).alias("topics"),
    )
    swap_logs = base.select(
        F.lit(1).alias("log_index"), "transaction_hash",
        F.lit(0).alias("transaction_index"), F.lit("0xb").alias("block_hash"),
        "block_number", "address",
        F.concat(
            F.lit("0x"), w64(F.col("o_custkey")), w64(F.lit(0)),
            w64(F.lit(0)), w64(F.col("o_totalprice").cast("long")),
        ).alias("data"),
        F.array(
            F.lit(SWAP.topic0), F.concat(F.lit("0x"), wallet_w), F.concat(F.lit("0x"), wallet_w)
        ).alias("topics"),
    )
    logs = sync_logs.unionByName(swap_logs)
    inv = build_inventory(spark, UNISWAP_V2_ABIS)
    parsed = parse_logs(logs, inv, UNISWAP_V2_ABIS)
    pools = spark.createDataFrame(
        [
            (f"0x{i % 50:040x}", "0xfac", ["0x" + "2" * 40, "0x" + "3" * 40], 3000, [])
            for i in range(50)
        ],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [("0x" + "2" * 40, "AAA", 6), ("0x" + "3" * 40, "BBB", 6)], TOKEN_DIM_DDL
    )
    trades = extract_dex_trades_combined(parsed, pools, tokens, families=["uniswap_v2"])
    priced = enrich_trades_usd(trades, stablecoins=["0x" + "2" * 40])
    return priced.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        F.round(F.element_at("prices_stable", 1), 6).alias("price_stable0"),
        F.round(F.element_at("prices_stable", 2), 6).alias("price_stable1"),
        F.round(F.col("amount_stable"), 6).alias("amount_stable"),
    )


@_q(
    "q42_priced_transfers",
    """
    WITH tr AS (
      SELECT md5(l_orderkey || ':' || l_linenumber) AS tx,
             l_linenumber AS li, l_orderkey AS bn,
             '0x' || lpad(lower(to_hex(l_partkey % 16)), 40, '0') AS token,
             (l_partkey % 16) % 3 AS d,
             CAST(l_quantity AS BIGINT) AS value
      FROM lineitem),
    mk AS (
      SELECT '0x' || lpad(lower(to_hex(o_custkey % 16)), 40, '0') AS token,
             o_orderkey AS bn, 0 AS li,
             (o_orderkey % 997 + 1) / 100.0 AS price
      FROM orders),
    u AS (
      SELECT token, bn, li, 0 AS probe, price,
             CAST(NULL AS VARCHAR) AS tx, CAST(NULL AS BIGINT) AS value,
             CAST(NULL AS BIGINT) AS d
      FROM mk
      UNION ALL
      SELECT token, bn, li, 1, CAST(NULL AS DOUBLE), tx, value, d FROM tr),
    w AS (
      SELECT *, last_value(price IGNORE NULLS) OVER (
                 PARTITION BY token ORDER BY bn, li, probe
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_asof
      FROM u)
    SELECT tx AS transaction_hash, li AS log_index, bn AS block_number,
           token AS token_address,
           round(value / power(10, d), 6) AS amount,
           round(CASE WHEN token = '0x' || lpad('', 40, '0') THEN 1.0
                      ELSE coalesce(p_asof, 0.0) END, 6) AS price_stable,
           round((value / power(10, d)) *
                 CASE WHEN token = '0x' || lpad('', 40, '0') THEN 1.0
                      ELSE coalesce(p_asof, 0.0) END, 6) AS value_stable
    FROM w WHERE probe = 1
    """,
)
def q42(spark, sf):
    """Priced token transfers (extract_token_transfers_priced analog):
    transfers fabricated from lineitem, a stable-price mark stream from
    orders, as-of attach per (token, block, log_index), value_stable =
    value/10^decimals × price. Token 0x0 plays the stablecoin (price 1.0)."""
    from ethereum_etl_spark.operators.pricing import priced_token_transfers

    li = ld(spark, sf, "lineitem")
    tok16 = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.col("l_partkey") % 16)), 40, "0"))
    transfers = li.select(
        F.md5(F.concat_ws(":", "l_orderkey", "l_linenumber")).alias("transaction_hash"),
        F.col("l_linenumber").cast("int").alias("log_index"),
        F.col("l_orderkey").alias("block_number"),
        tok16.alias("token_address"),
        F.col("l_quantity").cast("decimal(38,0)").alias("value"),
    )
    tokens = spark.range(16).select(
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex("id")), 40, "0")).alias("address"),
        (F.col("id") % 3).cast("int").alias("decimals"),
    )
    o = ld(spark, sf, "orders")
    marks = o.select(
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.col("o_custkey") % 16)), 40, "0")).alias("token_address"),
        F.col("o_orderkey").alias("block_number"),
        F.lit(0).alias("log_index"),
        ((F.col("o_orderkey") % 997 + 1) / 100.0).alias("price_stable"),
    )
    stable = "0x" + "0" * 40
    out = priced_token_transfers(transfers, tokens, marks, stablecoins=[stable])
    return out.select(
        "transaction_hash",
        "log_index",
        "block_number",
        "token_address",
        F.round("amount", 6).alias("amount"),
        F.round("price_stable", 6).alias("price_stable"),
        F.round("value_stable", 6).alias("value_stable"),
    )


@_q(
    "q43_swap_owner_detection",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             '0x' || lpad(lower(to_hex(o_orderkey % 50)), 40, '0') AS pool,
             '0x' || lpad(lower(to_hex(7000 + o_orderkey % 600)), 40, '0') AS wallet,
             o_orderkey % 3 AS pattern
      FROM orders WHERE o_orderkey <= 4096)
    SELECT tx AS transaction_hash, 1 AS log_index, pool AS pool_address,
           CASE pattern WHEN 0 THEN wallet            -- regular swap
                        WHEN 1 THEN wallet            -- arbitrage bot
                        ELSE pool END AS owner,       -- undetectable
           CASE pattern WHEN 0 THEN 'wallet'
                        WHEN 1 THEN 'arbitrage_bot'
                        ELSE 'pool' END AS owner_type
    FROM base
    """,
)
def q43(spark, sf):
    """Swap-owner detection: per-tx transfer graphs fabricated in three
    known shapes — regular swap (wallet⇄pool across two tokens), arbitrage
    bot (wallet→pool→wallet same token at a profit), and undetectable (a
    single-token hop through the pool) — classified by the columnar
    detect_swap_owners; the oracle states the analytically-known answer per
    shape."""
    from ethereum_etl_spark.operators.swap_owner import detect_swap_owners

    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    tx = F.md5(k.cast("string"))
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(k % 50)), 40, "0"))
    wallet = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(7000) + k % 600)), 40, "0"))
    tok_s = F.lit("0x" + "2" * 40)
    tok_t = F.lit("0x" + "3" * 40)
    pattern = k % 3
    v = F.col("o_custkey").cast("decimal(38,0)")

    def tr(frm, to, token, value):
        return F.struct(
            frm.alias("from_address"), to.alias("to_address"),
            token.alias("token_address"), value.alias("value"),
        )

    transfers = o.select(
        tx.alias("transaction_hash"),
        F.when(
            pattern == 0,  # regular: W -S-> P, P -T-> W (different tokens)
            F.array(tr(wallet, pool, tok_s, v), tr(pool, wallet, tok_t, v + 7)),
        ).when(
            pattern == 1,  # bot: W -S-> P, P -S-> W with profit (same token)
            F.array(tr(wallet, pool, tok_s, v), tr(pool, wallet, tok_s, v + 10)),
        ).otherwise(  # undetectable: single-token hop from a stranger
            F.array(tr(wallet, pool, tok_s, v)),
        ).alias("ts"),
    ).select("transaction_hash", F.explode("ts").alias("t")).select(
        "transaction_hash", "t.from_address", "t.to_address",
        "t.token_address", "t.value",
    )
    trades = o.select(
        tx.alias("transaction_hash"),
        F.lit(1).alias("log_index"),
        pool.alias("pool_address"),
        F.array(tok_s, tok_t).alias("token_addresses"),
    )
    pools = spark.createDataFrame(
        [(f"0x{i:040x}",) for i in range(50)], "address string"
    )
    out = detect_swap_owners(trades, transfers, pools)
    return out.select(
        "transaction_hash", "log_index", "pool_address", "owner", "owner_type"
    )


@_q(
    "q44_balancer_vault_swaps",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             '0x' || lpad(lower(to_hex(o_orderkey % 30)), 40, '0') AS pool,
             CAST(o_custkey AS DOUBLE) AS ain_raw,
             -- floor, not CAST: DuckDB's double->BIGINT cast ROUNDS while
             -- Spark's encode-side cast truncates
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS aout_raw
      FROM orders WHERE o_orderkey <= 4096)
    SELECT pool AS pool_address, tx AS transaction_hash, k AS block_number,
           'swap' AS event_type, 'balancer_v2' AS amm,
           round(ain_raw / 1000000.0, 6) AS amount_in,
           round(-aout_raw / 1000000.0, 6) + 0.0 AS amount_out,
           CASE WHEN ain_raw = 0 THEN 0.0
                ELSE round(abs((aout_raw / 1000000.0) / (ain_raw / 1000000.0)), 6)
           END AS price0,
           CASE WHEN aout_raw = 0 THEN 0.0
                ELSE round(abs((ain_raw / 1000000.0) / (aout_raw / 1000000.0)), 6)
           END AS price1
    FROM base
    """,
)
def q44(spark, sf):
    """Balancer-V2 Vault swaps: one contract, pool address recovered from
    the first 20 bytes of the indexed bytes32 poolId — no pool dimension
    needed for assembly. amountIn/amountOut scaled by token decimals,
    prices = the in/out ratio pair."""
    from ethereum_etl_spark.operators.dex import (
        BALANCER_V2_ABIS,
        POOL_DDL,
        TOKEN_DIM_DDL,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    SWAP = BALANCER_V2_ABIS[0]
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    pool_word = F.concat(F.lpad(F.lower(F.hex(k % 30)), 40, "0"), F.lit("0" * 24))

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    logs = o.select(
        F.lit(0).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        F.lit("0x" + "ba" * 20).alias("address"),  # the Vault
        F.concat(
            F.lit("0x"),
            w64(F.col("o_custkey")),
            w64(F.col("o_totalprice").cast("long")),
        ).alias("data"),
        F.array(
            F.lit(SWAP.topic0),
            F.concat(F.lit("0x"), pool_word),
            F.concat(F.lit("0x"), F.lpad(F.lit("2" * 40), 64, "0")),
            F.concat(F.lit("0x"), F.lpad(F.lit("3" * 40), 64, "0")),
        ).alias("topics"),
    )
    inv = build_inventory(spark, BALANCER_V2_ABIS)
    parsed = parse_logs(logs, inv, BALANCER_V2_ABIS)
    tokens = spark.createDataFrame(
        [("0x" + "2" * 40, "AAA", 6), ("0x" + "3" * 40, "BBB", 6)], TOKEN_DIM_DDL
    )
    # balancer_v2 reads its pair from the event: no pool rows needed
    no_pools = spark.createDataFrame([], POOL_DDL)
    t = extract_dex_trades_combined(parsed, no_pools, tokens, families=["balancer_v2"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        "amm",
        F.round(F.element_at("token_amounts", 1), 6).alias("amount_in"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount_out"),
        F.round(F.element_at("token_prices", 1), 6).alias("price0"),
        F.round(F.element_at("token_prices", 2), 6).alias("price1"),
    )


@_q(
    "q45_jaccard_stop_shingles",
    f"""
    WITH {_SHINGLES_SQL},
    kept AS (SELECT s FROM dsh GROUP BY s HAVING count(*) <= 50),
    fsh AS (SELECT d.doc_id, d.s FROM dsh d JOIN kept USING (s)),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM fsh GROUP BY doc_id),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
          FROM fsh a JOIN fsh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT p.id_a, p.id_b,
           round(p.common / (ca.n_sh + cb.n_sh - p.common), 4) AS jaccard
    FROM p JOIN cnt ca ON ca.doc_id = p.id_a JOIN cnt cb ON cb.doc_id = p.id_b
    WHERE round(p.common / (ca.n_sh + cb.n_sh - p.common), 4) >= 0.03
    """,
)
def q45(spark, sf):
    """Exact n-gram Jaccard WITH the stop-shingle guard engaged
    (max_shingle_df=50): boilerplate shingles appearing in >50 docs are
    dropped before pairing — the Θ(Σ df²) self-join is bounded by the df cap
    and Jaccard is recomputed over the filtered shingle universe (mirrored
    in the oracle). This is the shape an exact verification pass would run
    at scale after LSH pruning."""
    return ngram_jaccard_pairs(
        ld(spark, sf, "documents"), threshold=0.03, max_shingle_df=50
    )


@_q(
    "q46_embedding_near_dups",
    f"""
    WITH b AS (
      SELECT vec_id, {' || '.join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"{'[' + ','.join(str(int(x)) for x in p) + ']::DOUBLE[]'}) >= 0 "
        "THEN '1' ELSE '0' END" for p in _srp_planes())} AS bucket,
             embedding::DOUBLE[] AS v
      FROM embeddings)
    SELECT a.vec_id AS id_a, x.vec_id AS id_b,
           round(list_dot_product(a.v, x.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(x.v, x.v))), 6) AS cos_sim
    FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
    WHERE round(list_dot_product(a.v, x.v) /
                (sqrt(list_dot_product(a.v, a.v)) *
                 sqrt(list_dot_product(x.v, x.v))), 6) >= 0.1
    """,
)
def q46(spark, sf):
    """Embedding-cosine near-dup pairs: SRP-LSH bucket candidates verified
    by exact cosine ≥ threshold — bucket-keyed join, never all-pairs; the
    md5-seeded hyperplanes are shared verbatim with the oracle."""
    from ethereum_etl_spark.operators.similarity import embedding_near_dups

    return embedding_near_dups(ld(spark, sf, "embeddings"), threshold=0.1)


@_q(
    "q47_enriched_dex_trades",
    """
    WITH pairs AS (
      SELECT o_orderkey,
             '0x' || lpad(lower(to_hex(o_orderkey % 50)), 40, '0') AS pool_address,
             md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             CAST(o_custkey AS DOUBLE) AS a0in,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS a1out,
             CAST(1000 + o_orderkey % 97 AS DOUBLE) AS r0,
             CAST(5000 + o_orderkey % 89 AS DOUBLE) AS r1
      FROM orders WHERE o_orderkey <= 4096),
    trades AS (
      SELECT pool_address, tx, o_orderkey AS bn, 1 AS li,
             a0in / 1000000.0 AS amount0,
             (r1 / 1000000.0) / (r0 / 1000000.0) AS price0,
             (r0 / 1000000.0) / (r1 / 1000000.0) AS price1
      FROM pairs),
    marked AS (
      SELECT *, last_value(CASE WHEN price1 > 0 THEN price1 END IGNORE NULLS)
                OVER (ORDER BY bn, li
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p1_asof
      FROM trades),
    own AS (
      SELECT o_orderkey AS k,
             '0x' || lpad(lower(to_hex(7000 + o_orderkey % 600)), 40, '0') AS wallet,
             '0x' || lpad(lower(to_hex(o_orderkey % 50)), 40, '0') AS pool,
             o_orderkey % 3 AS pattern
      FROM orders WHERE o_orderkey <= 4096)
    SELECT m.pool_address, m.tx AS transaction_hash, m.bn AS block_number,
           round(1.0, 6) AS price_stable0,
           round(coalesce(m.p1_asof, 0.0), 6) AS price_stable1,
           round(abs(m.amount0) * 1.0, 6) AS amount_stable,
           CASE o.pattern WHEN 0 THEN o.wallet
                          WHEN 1 THEN o.wallet
                          ELSE o.pool END AS owner,
           CASE o.pattern WHEN 0 THEN 'wallet'
                          WHEN 1 THEN 'arbitrage_bot'
                          ELSE 'pool' END AS owner_type
    FROM marked m JOIN own o ON m.bn = o.k
    """,
)
def q47(spark, sf):
    """The STREAMED dex_trades shape (VERDICT r3 item 2): one composition of
    assembly → USD pricing (as-of marks) → swap-owner detection — exactly
    what ChainStreamer persists when configured with stablecoins
    (streaming/batch.py DexBatch.enriched_trades; reference
    jobs/enrich_dex_trades_job.py:38-108).
    Fabrication: q39's stable-paired v2 swaps for the pricing half, q43's
    three analytically-known transfer-graph shapes for the owner half."""
    from ethereum_etl_spark.operators.dex import (
        POOL_DDL,
        TOKEN_DIM_DDL,
        UNISWAP_V2_ABIS,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs
    from ethereum_etl_spark.operators.pricing import enrich_trades_usd
    from ethereum_etl_spark.operators.swap_owner import detect_swap_owners

    SWAP, SYNC = UNISWAP_V2_ABIS[0], UNISWAP_V2_ABIS[1]
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(k % 50)), 40, "0"))
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    base = o.select(
        k.alias("block_number"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        pool.alias("address"),
        F.col("o_custkey"),
        F.col("o_totalprice"),
    )
    sync_logs = base.select(
        F.lit(0).alias("log_index"), "transaction_hash",
        F.lit(0).alias("transaction_index"), F.lit("0xb").alias("block_hash"),
        "block_number", "address",
        F.concat(
            F.lit("0x"),
            w64(F.lit(1000) + F.col("block_number") % 97),
            w64(F.lit(5000) + F.col("block_number") % 89),
        ).alias("data"),
        F.array(F.lit(SYNC.topic0)).alias("topics"),
    )
    swap_logs = base.select(
        F.lit(1).alias("log_index"), "transaction_hash",
        F.lit(0).alias("transaction_index"), F.lit("0xb").alias("block_hash"),
        "block_number", "address",
        F.concat(
            F.lit("0x"), w64(F.col("o_custkey")), w64(F.lit(0)),
            w64(F.lit(0)), w64(F.col("o_totalprice").cast("long")),
        ).alias("data"),
        F.array(
            F.lit(SWAP.topic0), F.concat(F.lit("0x"), wallet_w), F.concat(F.lit("0x"), wallet_w)
        ).alias("topics"),
    )
    logs = sync_logs.unionByName(swap_logs)
    inv = build_inventory(spark, UNISWAP_V2_ABIS)
    parsed = parse_logs(logs, inv, UNISWAP_V2_ABIS)
    tok_s, tok_t = "0x" + "2" * 40, "0x" + "3" * 40
    pools = spark.createDataFrame(
        [(f"0x{i:040x}", "0xfac", [tok_s, tok_t], 3000, []) for i in range(50)],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [(tok_s, "AAA", 6), (tok_t, "BBB", 6)], TOKEN_DIM_DDL
    )
    trades = extract_dex_trades_combined(parsed, pools, tokens, families=["uniswap_v2"])
    priced = enrich_trades_usd(trades, stablecoins=[tok_s])

    wallet = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(7000) + k % 600)), 40, "0"))
    pattern = k % 3
    v = F.col("o_custkey").cast("decimal(38,0)")

    def tr(frm, to, token, value):
        return F.struct(
            frm.alias("from_address"), to.alias("to_address"),
            F.lit(token).alias("token_address"), value.alias("value"),
        )

    transfers = o.select(
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.when(
            pattern == 0,
            F.array(tr(wallet, pool, tok_s, v), tr(pool, wallet, tok_t, v + 7)),
        ).when(
            pattern == 1,
            F.array(tr(wallet, pool, tok_s, v), tr(pool, wallet, tok_s, v + 10)),
        ).otherwise(
            F.array(tr(wallet, pool, tok_s, v)),
        ).alias("ts"),
    ).select("transaction_hash", F.explode("ts").alias("t")).select(
        "transaction_hash", "t.from_address", "t.to_address",
        "t.token_address", "t.value",
    )
    owned = detect_swap_owners(priced, transfers, pools.select("address"))
    return owned.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        F.round(F.element_at("prices_stable", 1), 6).alias("price_stable0"),
        F.round(F.element_at("prices_stable", 2), 6).alias("price_stable1"),
        F.round(F.col("amount_stable"), 6).alias("amount_stable"),
        "owner",
        "owner_type",
    )


@_q(
    "q49_native_balances_gas",
    """
    WITH tx AS (
      SELECT o_orderkey % 256 AS bn,
             '0x' || lpad(lower(to_hex(1000 + o_custkey % 100)), 40, '0') AS f,
             '0x' || lpad(lower(to_hex(2000 + o_custkey % 97)), 40, '0') AS t,
             CAST(floor(o_totalprice) AS BIGINT) AS v,
             21000 + o_orderkey % 50 AS gas,
             10 + o_orderkey % 7 AS eff
      FROM orders WHERE o_orderkey <= 4096),
    blk AS (
      SELECT DISTINCT bn,
             '0x' || lpad(lower(to_hex(3000 + bn % 10)), 40, '0') AS miner,
             5 + bn % 4 AS base
      FROM tx),
    legs AS (
      SELECT f AS address, bn, -v AS delta FROM tx
      UNION ALL SELECT t, bn, v FROM tx
      UNION ALL SELECT f, bn, -(gas * eff) FROM tx
      UNION ALL SELECT b.miner, x.bn, x.gas * (x.eff - b.base)
        FROM tx x JOIN blk b ON x.bn = b.bn
        WHERE x.gas * (x.eff - b.base) > 0),
    per_block AS (
      SELECT address, bn AS block_number, sum(delta) AS d FROM legs GROUP BY 1, 2)
    SELECT address, block_number,
           CAST(sum(d) OVER (PARTITION BY address ORDER BY block_number) AS BIGINT) AS value
    FROM per_block
    """,
)
def q49(spark, sf):
    """Native balances WITH gas accounting (VERDICT r3 item 7; reference
    export_native_balances_job.py semantics minus issuance): sender pays
    value + gas_used × effective_gas_price, receiver gains value, miner
    earns the EIP-1559 tip gas × (effective − base_fee); cumulative per
    address. The oracle replays the exact leg algebra in SQL."""
    from ethereum_etl_spark.operators.balances import native_balances_from_transactions

    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")

    def addr(c):
        return F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(c)), 40, "0"))

    tx = o.select(
        (k % 256).alias("block_number"),
        addr(F.lit(1000) + F.col("o_custkey") % 100).alias("from_address"),
        addr(F.lit(2000) + F.col("o_custkey") % 97).alias("to_address"),
        F.floor("o_totalprice").cast("decimal(38,0)").alias("value"),
        (F.lit(21000) + k % 50).alias("receipt_gas_used"),
        (F.lit(10) + k % 7).cast("decimal(38,0)").alias("receipt_effective_gas_price"),
    )
    blocks = spark.range(256).select(
        F.col("id").alias("number"),
        addr(F.lit(3000) + F.col("id") % 10).alias("miner"),
        (F.lit(5) + F.col("id") % 4).alias("base_fee_per_gas"),
    )
    out = native_balances_from_transactions(tx, blocks=blocks)
    return out.select(
        "address", "block_number", F.col("value").cast("long").alias("value")
    )


@_q(
    "q48_curve_trades",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             o_orderkey % 20 AS p, o_orderkey % 3 AS i, (o_orderkey + 1) % 3 AS j,
             CAST(o_custkey AS DOUBLE) AS sold,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS bought,
             o_orderkey % 2 AS und
      FROM orders WHERE o_orderkey <= 4096),
    resolved AS (
      SELECT k, tx, '0x' || lpad(lower(to_hex(500 + p)), 40, '0') AS pool_address,
             CASE WHEN und = 1
                  THEN '0x' || lpad(lower(to_hex(1000 + 3 * p + i)), 40, '0')
                  ELSE '0x' || lpad(lower(to_hex(10 + 3 * p + i)), 40, '0') END AS token0,
             CASE WHEN und = 1
                  THEN '0x' || lpad(lower(to_hex(1000 + 3 * p + j)), 40, '0')
                  ELSE '0x' || lpad(lower(to_hex(10 + 3 * p + j)), 40, '0') END AS token1,
             sold / power(10, CASE WHEN und = 1 THEN (3 * p + i) % 3
                                   ELSE ((3 * p + i) % 2) * 3 END) AS a0,
             -bought / power(10, CASE WHEN und = 1 THEN (3 * p + j) % 3
                                      ELSE ((3 * p + j) % 2) * 3 END) AS a1
      FROM base)
    SELECT pool_address, tx AS transaction_hash, k AS block_number,
           'swap' AS event_type, 'curve' AS amm, token0, token1,
           round(a0, 6) AS amount0, round(a1, 6) + 0.0 AS amount1,
           -- two-step decimal rounding: double→DECIMAL(38,12)→round(6) resolves
           -- half-way ties identically in DuckDB and Spark (a bare
           -- round(double, 6) diverges by 1 ulp on exact .xxxxxx5 ratios)
           CASE WHEN a0 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a1 / a0) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price0,
           CASE WHEN a1 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a0 / a1) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price1
    FROM resolved
    """,
)
def q48(spark, sf):
    """Curve N-coin swaps (VERDICT r3 item 5; reference
    service/dex/curve/curve.py:514-603): TokenExchange (even keys) resolves
    sold_id/bought_id against the pool's 3-coin array,
    TokenExchangeUnderlying (odd keys) against its underlying coin array —
    per-coin decimals scale the legs; prices are the swap's own ratio pair.
    The oracle replays the index → token → scalar resolution arithmetically."""
    from ethereum_etl_spark.operators.dex import (
        CURVE_ABIS,
        TOKEN_DIM_DDL,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    EXCH, EXCH_U = CURVE_ABIS
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(500) + k % 20)), 40, "0"))
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    logs = o.select(
        F.lit(1).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        pool.alias("address"),
        F.concat(
            F.lit("0x"),
            w64(k % 3),                                  # sold_id
            w64(F.col("o_custkey")),                     # tokens_sold
            w64((k + 1) % 3),                            # bought_id
            w64(F.floor("o_totalprice")),                # tokens_bought
        ).alias("data"),
        F.array(
            F.when(k % 2 == 1, F.lit(EXCH_U.topic0)).otherwise(F.lit(EXCH.topic0)),
            F.concat(F.lit("0x"), wallet_w),
        ).alias("topics"),
    )
    inv = build_inventory(spark, CURVE_ABIS)
    parsed = parse_logs(logs, inv, CURVE_ABIS)

    def addr(n):
        return f"0x{n:040x}"

    pools = spark.createDataFrame(
        [
            (addr(500 + p), "0xfac",
             [addr(10 + 3 * p + c) for c in range(3)], 0, [],
             [addr(1000 + 3 * p + c) for c in range(3)])
            for p in range(20)
        ],
        "address string, factory_address string, token_addresses array<string>,"
        "fee int, lp_token_addresses array<string>,"
        "underlying_token_addresses array<string>",
    )
    tokens = spark.createDataFrame(
        [(addr(10 + b), f"C{b}", (b % 2) * 3) for b in range(60)]
        + [(addr(1000 + b), f"U{b}", b % 3) for b in range(60)],
        TOKEN_DIM_DDL,
    )
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["curve"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        "amm",
        F.element_at("token_addresses", 1).alias("token0"),
        F.element_at("token_addresses", 2).alias("token1"),
        F.round(F.element_at("token_amounts", 1), 6).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(
            F.element_at("token_prices", 1).cast("decimal(38,12)"), 6
        ).cast("double").alias("price0"),
        F.round(
            F.element_at("token_prices", 2).cast("decimal(38,12)"), 6
        ).cast("double").alias("price1"),
    )


@_q(
    "q50_priced_internal_transfers",
    """
    WITH tr AS (
      SELECT md5(l_orderkey || ':' || l_linenumber) AS id,
             l_orderkey AS bn,
             CAST(l_quantity AS BIGINT) * 100000000000000000 AS value
      FROM lineitem WHERE l_quantity > 0),
    mk AS (
      SELECT o_orderkey AS bn, 0 AS li,
             (o_orderkey % 997 + 1) / 100.0 AS price
      FROM orders WHERE o_custkey % 5 = 0),
    u AS (
      SELECT bn, li, 0 AS probe, price, CAST(NULL AS VARCHAR) AS id,
             CAST(NULL AS HUGEINT) AS value
      FROM mk
      UNION ALL
      SELECT bn, 1073741824, 1, CAST(NULL AS DOUBLE), id, value FROM tr),
    w AS (
      SELECT *, last_value(price IGNORE NULLS) OVER (
                 ORDER BY bn, li, probe
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_asof
      FROM u)
    SELECT id, bn AS block_number,
           round(value / 1e18, 6) AS amount,
           round(coalesce(p_asof, 0.0), 6) AS price_stable,
           round((value / 1e18) * coalesce(p_asof, 0.0), 6) AS value_stable
    FROM w WHERE probe = 1
    """,
)
def q50(spark, sf):
    """Priced INTERNAL transfers (VERDICT r3 item 6; reference
    jobs/extract_internal_transfers_priced.py): native-asset moves priced at
    the wrapped-native token's as-of stable mark, end-of-block; zero-value
    transfers skipped. Marks fabricated from orders, transfers from
    lineitem (×1e17 wei so amounts exercise the 18-decimal scaling)."""
    from ethereum_etl_spark.operators.pricing import priced_internal_transfers

    WNATIVE = "0x" + "ee" * 20
    li = ld(spark, sf, "lineitem").filter("l_quantity > 0")
    transfers = li.select(
        F.md5(F.concat_ws(":", "l_orderkey", "l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("block_number"),
        (
            F.col("l_quantity").cast("decimal(38,0)")
            * F.lit(10**17).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("value"),
    )
    o = ld(spark, sf, "orders").filter("o_custkey % 5 = 0")
    marks = o.select(
        F.lit(WNATIVE).alias("token_address"),
        F.col("o_orderkey").alias("block_number"),
        F.lit(0).alias("log_index"),
        ((F.col("o_orderkey") % 997 + 1) / 100.0).alias("price_stable"),
    )
    out = priced_internal_transfers(transfers, marks, [], WNATIVE)
    return out.select(
        "id",
        "block_number",
        F.round("amount", 6).alias("amount"),
        F.round("price_stable", 6).alias("price_stable"),
        F.round("value_stable", 6).alias("value_stable"),
    )


@_q(
    "q51_chain_counts_approx",
    """
    SELECT l_returnflag AS chain,
           count(DISTINCT l_partkey) AS uniques_exact,
           TRUE AS approx_ok
    FROM lineitem GROUP BY 1
    """,
)
def q51(spark, sf):
    """A2/A3 chain_counts (schema.sql:390-397 uniqState MVs): approximate
    distinct per group. The HLL estimate itself is not SQL-reproducible, so
    the oracle checks the EXACT twin and a tolerance band: approx_ok must be
    TRUE (estimate within 3·rsd of exact) for the hash to match — a drifting
    sketch turns the row red."""
    from ethereum_etl_spark.operators.candles import approx_uniques

    li = ld(spark, sf, "lineitem")
    exact = li.groupBy(F.col("l_returnflag").alias("chain")).agg(
        F.countDistinct("l_partkey").alias("uniques_exact")
    )
    approx = approx_uniques(
        li.select(F.col("l_returnflag").alias("chain"), "l_partkey"),
        "chain",
        "l_partkey",
        rsd=0.05,
    )
    return exact.join(approx, on="chain").select(
        "chain",
        "uniques_exact",
        (
            F.abs(F.col("approx_uniques") - F.col("uniques_exact"))
            <= 3 * 0.05 * F.col("uniques_exact")
        ).alias("approx_ok"),
    )


@_q(
    "q52_ohlcv_candles_1d",
    """
    WITH b AS (
      SELECT event_type, date_trunc('day', ts) AS bs, ts, event_id,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    o AS (SELECT event_type, bs, v,
                 row_number() OVER (PARTITION BY event_type, bs ORDER BY ts, event_id) rn
          FROM b),
    c AS (SELECT event_type, bs, v,
                 row_number() OVER (PARTITION BY event_type, bs ORDER BY ts DESC, event_id DESC) rn
          FROM b),
    a AS (SELECT event_type, bs,
                 CAST(max(v) AS DOUBLE) AS high, CAST(min(v) AS DOUBLE) AS low,
                 round(CAST(sum(abs(v)) AS DOUBLE), 4) AS volume,
                 count(*) AS trades
          FROM b GROUP BY event_type, bs)
    SELECT a.event_type, strftime(a.bs, '%Y-%m-%d') AS bucket_start,
           CAST(o.v AS DOUBLE) AS open, a.high, a.low, CAST(c.v AS DOUBLE) AS close,
           a.volume, a.trades
    FROM a
    JOIN o ON o.event_type = a.event_type AND o.bs = a.bs AND o.rn = 1
    JOIN c ON c.event_type = a.event_type AND c.bs = a.bs AND c.rn = 1
    """,
)
def q52(spark, sf):
    """A1 multi-resolution (VERDICT r3 item 9): the DAILY candle MV
    (schema.sql:309-331) — same ohlcv operator, '1 day' bucket, proving the
    bucket parameterization the streamer's candles_1d table rides on."""
    e = ld(spark, sf, "events").withColumn("v", _dec("value", 18, 6))
    out = ohlcv(
        e, key_col="event_type", ts_col="ts", value_col="v",
        tiebreak_col="event_id", bucket="1 day",
    )
    return out.select(
        "event_type",
        F.date_format("bucket_start", "yyyy-MM-dd").alias("bucket_start"),
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
        F.round(F.col("volume").cast("double"), 4).alias("volume"),
        "trades",
    )


@_q(
    "q53_dodo_trades",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             '0x' || lpad(lower(to_hex(700 + o_orderkey % 25)), 40, '0') AS pool,
             CAST(o_custkey AS DOUBLE) AS base_amt,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS quote_amt,
             o_orderkey % 2 AS is_buy
      FROM orders WHERE o_orderkey <= 4096),
    legs AS (
      SELECT k, tx, pool,
             CASE WHEN is_buy = 1 THEN -base_amt ELSE base_amt END / 1000000.0 AS a0,
             CASE WHEN is_buy = 1 THEN quote_amt ELSE -quote_amt END / 1e9 AS a1
      FROM base)
    SELECT pool AS pool_address, tx AS transaction_hash, k AS block_number,
           'swap' AS event_type, 'dodo' AS amm,
           round(a0, 6) + 0.0 AS amount0, round(a1, 6) + 0.0 AS amount1,
           CASE WHEN a0 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a1 / a0) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price0,
           CASE WHEN a1 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a0 / a1) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price1
    FROM legs
    """,
)
def q53(spark, sf):
    """DODO v1 base/quote swaps (reference dodo/contracts_v1.py:195-214):
    BuyBaseToken drains base from the pool (amount0 negative), SellBaseToken
    adds it — the fifth AMM family in the single parse pass. Base token has
    6 decimals, quote 9, so the per-leg scaling is visibly different."""
    from ethereum_etl_spark.operators.dex import (
        DODO_ABIS,
        POOL_DDL,
        TOKEN_DIM_DDL,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    BUY, SELL = DODO_ABIS
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(700) + k % 25)), 40, "0"))
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    logs = o.select(
        F.lit(1).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        pool.alias("address"),
        F.concat(
            F.lit("0x"),
            w64(F.col("o_custkey")),
            w64(F.floor("o_totalprice")),
        ).alias("data"),
        F.array(
            F.when(k % 2 == 1, F.lit(BUY.topic0)).otherwise(F.lit(SELL.topic0)),
            F.concat(F.lit("0x"), wallet_w),
        ).alias("topics"),
    )
    inv = build_inventory(spark, DODO_ABIS)
    parsed = parse_logs(logs, inv, DODO_ABIS)
    tok_b, tok_q = "0x" + "6" * 40, "0x" + "7" * 40
    pools = spark.createDataFrame(
        [(f"0x{700 + i:040x}", "0xfac", [tok_b, tok_q], 0, []) for i in range(25)],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [(tok_b, "BASE", 6), (tok_q, "QUOTE", 9)], TOKEN_DIM_DDL
    )
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["dodo"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        "amm",
        (F.round(F.element_at("token_amounts", 1), 6) + F.lit(0.0)).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(
            F.element_at("token_prices", 1).cast("decimal(38,12)"), 6
        ).cast("double").alias("price0"),
        F.round(
            F.element_at("token_prices", 2).cast("decimal(38,12)"), 6
        ).cast("double").alias("price1"),
    )


@_q(
    "q54_dodo_v2_trades",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             '0x' || lpad(lower(to_hex(800 + o_orderkey % 25)), 40, '0') AS pool,
             CAST(o_custkey AS DOUBLE) AS from_amt,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS to_amt,
             o_orderkey % 2 AS from_is_t0
      FROM orders WHERE o_orderkey <= 4096),
    legs AS (
      -- from_token_index = 0 when fromToken == pool.token0 (t0 = 6 dec,
      -- t1 = 9 dec): +fromAmount on the from leg, -toAmount on the other
      SELECT k, tx, pool,
             CASE WHEN from_is_t0 = 1 THEN from_amt ELSE -to_amt END / 1000000.0 AS a0,
             CASE WHEN from_is_t0 = 1 THEN -to_amt ELSE from_amt END / 1e9 AS a1
      FROM base)
    SELECT pool AS pool_address, tx AS transaction_hash, k AS block_number,
           'swap' AS event_type, 'dodo_v2' AS amm,
           round(a0, 6) + 0.0 AS amount0, round(a1, 6) + 0.0 AS amount1,
           CASE WHEN a0 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a1 / a0) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price0,
           CASE WHEN a1 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a0 / a1) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price1
    FROM legs
    """,
)
def q54(spark, sf):
    """DODO v2 DODOSwap (reference dodo/contracts_v2.py:146-156): the
    from/to tokens live in the EVENT, the pool dim fixes only the leg
    order — both orderings exercised via k%2. Sixth AMM family in the
    single parse pass; topic0 asserted against the reference's documented
    DSP swap hash in tests."""
    from ethereum_etl_spark.operators.dex import (
        DODO_V2_ABIS,
        POOL_DDL,
        TOKEN_DIM_DDL,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(800) + k % 25)), 40, "0"))
    tok_a, tok_b = "0x" + "8" * 40, "0x" + "9" * 40
    wa, wb = F.lpad(F.lit("8" * 40), 64, "0"), F.lpad(F.lit("9" * 40), 64, "0")
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    from_w = F.when(k % 2 == 1, wa).otherwise(wb)
    to_w = F.when(k % 2 == 1, wb).otherwise(wa)
    logs = o.select(
        F.lit(1).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        pool.alias("address"),
        F.concat(
            F.lit("0x"),
            from_w, to_w,
            w64(F.col("o_custkey")),
            w64(F.floor("o_totalprice")),
            wallet_w, wallet_w,
        ).alias("data"),
        F.array(F.lit(DODO_V2_ABIS[0].topic0)).alias("topics"),
    )
    inv = build_inventory(spark, DODO_V2_ABIS)
    parsed = parse_logs(logs, inv, DODO_V2_ABIS)
    pools = spark.createDataFrame(
        [(f"0x{800 + i:040x}", "0xfac", [tok_a, tok_b], 0, []) for i in range(25)],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [(tok_a, "BASE", 6), (tok_b, "QUOTE", 9)], TOKEN_DIM_DDL
    )
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["dodo_v2"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        "amm",
        (F.round(F.element_at("token_amounts", 1), 6) + F.lit(0.0)).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(
            F.element_at("token_prices", 1).cast("decimal(38,12)"), 6
        ).cast("double").alias("price0"),
        F.round(
            F.element_at("token_prices", 2).cast("decimal(38,12)"), 6
        ).cast("double").alias("price1"),
    )


@_q(
    "q55_traderjoe_lb_trades",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             '0x' || lpad(lower(to_hex(840 + o_orderkey % 25)), 40, '0') AS pool,
             CAST(o_custkey AS DOUBLE) AS x_amt,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS y_amt,
             o_orderkey % 2 AS x_in, o_orderkey % 7 AS m7
      FROM orders WHERE o_orderkey <= 4096),
    legs AS (
      SELECT k, tx, pool,
             CASE WHEN m7 = 0 THEN 'mint'
                  WHEN m7 = 1 THEN 'burn'
                  ELSE 'swap' END AS event_type,
             -- mint/burn: two bins of (x, y) each, POSITIVE for both;
             -- swap: x in / y out when x_in else the reverse
             CASE WHEN m7 IN (0, 1) THEN 2 * x_amt
                  WHEN x_in = 0 THEN x_amt ELSE -x_amt END / 1000000.0 AS a0,
             CASE WHEN m7 IN (0, 1) THEN 2 * y_amt
                  WHEN x_in = 0 THEN -y_amt ELSE y_amt END / 1e9 AS a1,
             m7
      FROM base)
    SELECT pool AS pool_address, tx AS transaction_hash, k AS block_number,
           event_type, 'traderjoe_v2_1' AS amm,
           round(a0, 6) + 0.0 AS amount0, round(a1, 6) + 0.0 AS amount1,
           CASE WHEN m7 IN (0, 1) OR a0 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a1 / a0) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price0,
           CASE WHEN m7 IN (0, 1) OR a1 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a0 / a1) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price1
    FROM legs
    """,
)
def q55(spark, sf):
    """TraderJoe v2.1 Liquidity-Book decode (reference traderjoe_v2_1.py):
    TWO uint128 amounts PACKED per bytes32 word (low 128 = token X, high =
    token Y) for swaps, and bytes32[] per-bin arrays folded per half for
    DepositedToBins (mint) / WithdrawnFromBins (burn) — the byte-slicing
    decode the static word path can't express (VERDICT r3 item 4)."""
    from ethereum_etl_spark.operators.dex import (
        POOL_DDL,
        TOKEN_DIM_DDL,
        TRADERJOE_ABIS,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    SWAP, DEPOSIT, WITHDRAW = TRADERJOE_ABIS
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(840) + k % 25)), 40, "0"))
    tok_x, tok_y = "0x" + "8" * 40, "0x" + "9" * 40
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    def w32(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 32, "0")

    def pack(y, x):  # high 128 bits = Y, low = X (decode_amounts)
        return F.concat(w32(y), w32(x))

    x_amt, y_amt = F.col("o_custkey"), F.floor("o_totalprice")
    zero = F.lit(0)
    amounts_in = F.when(k % 2 == 0, pack(zero, x_amt)).otherwise(pack(y_amt, zero))
    amounts_out = F.when(k % 2 == 0, pack(y_amt, zero)).otherwise(pack(zero, x_amt))
    swap_data = F.concat(
        F.lit("0x"), w64(F.lit(8388608)), amounts_in, amounts_out,
        w64(zero), w64(zero), w64(zero),
    )
    # DepositedToBins/WithdrawnFromBins: ids uint256[] at word 2, amounts
    # bytes32[] at word 5 — two bins, each (y_amt, x_amt)
    bin_word = pack(y_amt, x_amt)
    bins_data = F.concat(
        F.lit("0x"), w64(F.lit(64)), w64(F.lit(160)),
        w64(F.lit(2)), w64(F.lit(1)), w64(F.lit(2)),
        w64(F.lit(2)), bin_word, bin_word,
    )
    m7 = k % 7
    topic0 = (
        F.when(m7 == 0, F.lit(DEPOSIT.topic0))
        .when(m7 == 1, F.lit(WITHDRAW.topic0))
        .otherwise(F.lit(SWAP.topic0))
    )
    logs = o.select(
        F.lit(1).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        pool.alias("address"),
        F.when(m7.isin(0, 1), bins_data).otherwise(swap_data).alias("data"),
        F.array(
            topic0,
            F.concat(F.lit("0x"), wallet_w),
            F.concat(F.lit("0x"), wallet_w),
        ).alias("topics"),
    )
    inv = build_inventory(spark, TRADERJOE_ABIS)
    parsed = parse_logs(logs, inv, TRADERJOE_ABIS)
    pools = spark.createDataFrame(
        [(f"0x{840 + i:040x}", "0xfac", [tok_x, tok_y], 0, []) for i in range(25)],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [(tok_x, "X", 6), (tok_y, "Y", 9)], TOKEN_DIM_DDL
    )
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["traderjoe_v2_1"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        "amm",
        (F.round(F.element_at("token_amounts", 1), 6) + F.lit(0.0)).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(
            F.element_at("token_prices", 1).cast("decimal(38,12)"), 6
        ).cast("double").alias("price0"),
        F.round(
            F.element_at("token_prices", 2).cast("decimal(38,12)"), 6
        ).cast("double").alias("price1"),
    )


@_q(
    "q56_multi_family_trades",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             CAST(o_custkey AS DOUBLE) AS cust,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS price,
             o_orderkey % 5 AS fam, o_orderkey % 2 AS d,
             CAST(1000 + o_orderkey % 97 AS DOUBLE) AS r0,
             CAST(5000 + o_orderkey % 89 AS DOUBLE) AS r1
      FROM orders WHERE o_orderkey <= 4096),
    one_inch AS (
      -- reference sign convention: the SRC leg is negative (oneinch.py)
      SELECT k, tx, '0x' || lpad(lower(to_hex(2176 + k % 20)), 40, '0') AS pool,
             'one_inch' AS amm, 'swap' AS event_type,
             CASE WHEN d = 0 THEN -cust ELSE price END / 1000000.0 AS a0,
             CASE WHEN d = 0 THEN price ELSE -cust END / 1e9 AS a1,
             r0 AS res0, r1 AS res1, r1 / r0 AS p0, r0 / r1 AS p1
      FROM base WHERE fam = 0),
    bento AS (
      SELECT k, tx, '0x' || lpad(lower(to_hex(2240 + k % 20)), 40, '0') AS pool,
             'sushiswap_bento' AS amm, 'swap' AS event_type,
             -- d=0: tokenIn = A (amountIn = cust); d=1: tokenIn = B
             -- (amountIn = price) and cust exits on the A leg
             CASE WHEN d = 0 THEN cust ELSE -cust END / 1000000.0 AS a0,
             CASE WHEN d = 0 THEN -price ELSE price END / 1e9 AS a1,
             r0 AS res0, r1 AS res1, r1 / r0 AS p0, r0 / r1 AS p1
      FROM base WHERE fam = 1),
    wombat AS (
      SELECT k, tx, '0x' || lpad(lower(to_hex(2272 + k % 20)), 40, '0') AS pool,
             'wombat' AS amm, 'swap' AS event_type,
             cust / 1000000.0 AS a0, -price / 1e9 AS a1,
             0.0 AS res0, 0.0 AS res1,
             abs((price / 1e9) / (cust / 1000000.0)) AS p0,
             abs((cust / 1000000.0) / (price / 1e9)) AS p1
      FROM base WHERE fam = 2),
    carbon AS (
      SELECT k, tx, '0x' || lpad('8f1', 40, '0') AS pool,
             'carbondefi' AS amm, 'swap' AS event_type,
             cust / 1000000.0 AS a0, -price / 1e9 AS a1,
             0.0 AS res0, 0.0 AS res1,
             abs((price / 1e9) / (cust / 1000000.0)) AS p0,
             abs((cust / 1000000.0) / (price / 1e9)) AS p1
      FROM base WHERE fam = 3),
    fjord AS (
      SELECT k, tx, '0x' || lpad(lower(to_hex(2336 + k % 20)), 40, '0') AS pool,
             'fjord' AS amm, 'swap' AS event_type,
             CASE WHEN d = 0 THEN -cust ELSE cust END / 1000000.0 AS a0,
             CASE WHEN d = 0 THEN price ELSE -price END / 1e9 AS a1,
             0.0 AS res0, 0.0 AS res1,
             abs((price / 1e9) / (cust / 1000000.0)) AS p0,
             abs((cust / 1000000.0) / (price / 1e9)) AS p1
      FROM base WHERE fam = 4),
    u AS (
      SELECT * FROM one_inch UNION ALL SELECT * FROM bento
      UNION ALL SELECT * FROM wombat UNION ALL SELECT * FROM carbon
      UNION ALL SELECT * FROM fjord)
    SELECT pool AS pool_address, tx AS transaction_hash, k AS block_number,
           event_type, amm,
           round(a0, 6) + 0.0 AS amount0, round(a1, 6) + 0.0 AS amount1,
           round(res0, 6) AS reserve0, round(res1, 6) AS reserve1,
           -- reserve-priced families (res0 > 0) price regardless of the
           -- trade amounts; ratio families guard against zero legs
           CASE WHEN res0 = 0 AND a0 = 0 THEN 0.0
                ELSE CAST(round(CAST(p0 AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price0,
           CASE WHEN res0 = 0 AND a1 = 0 THEN 0.0
                ELSE CAST(round(CAST(p1 AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price1
    FROM u
    """,
)
def q56(spark, sf):
    """Five AMM families in ONE parse pass and one combined extractor call
    (VERDICT r3 item 5): 1inch Swapped (src-negative convention, in-event
    reserves), sushiswap_bento in/out-keyed Swap with same-tx uint256 Sync
    reserves, wombat event-token Swap, carbondefi controller-emitted
    TokensTraded, fjord LBP Buy/Sell. Token A 6 decimals / token B 9."""
    from ethereum_etl_spark.operators.dex import (
        CARBON_ABIS,
        FJORD_ABIS,
        ONE_INCH_ABIS,
        POOL_DDL,
        SUSHI_BENTO_ABIS,
        TOKEN_DIM_DDL,
        WOMBAT_ABIS,
    )
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    tok_a, tok_b = "0x" + "8" * 40, "0x" + "9" * 40
    wa, wb = F.lpad(F.lit("8" * 40), 64, "0"), F.lpad(F.lit("9" * 40), 64, "0")
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    d = k % 2

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    def paddr(base):
        return F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(base) + k % 20)), 40, "0"))

    common = [
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
    ]
    cust, price = F.col("o_custkey"), F.floor("o_totalprice")
    r0_raw = (F.lit(1000) + k % 97) * 1_000_000          # token A base units
    r1_raw = (F.lit(5000) + k % 89) * 1_000_000_000      # token B base units

    oi = o.filter(d.isNotNull() & (k % 5 == 0)).select(
        F.lit(1).alias("log_index"), *common,
        paddr(0x880).alias("address"),
        F.concat(
            F.lit("0x"),
            w64(cust),                                   # amount (src units)
            w64(price),                                  # result (dst units)
            F.when(d == 0, w64(r0_raw)).otherwise(w64(r1_raw)),  # srcBalance
            F.when(d == 0, w64(r1_raw)).otherwise(w64(r0_raw)),  # dstBalance
            w64(F.lit(1)),                               # totalSupply
            wallet_w,                                    # referral
        ).alias("data"),
        F.array(
            F.lit(ONE_INCH_ABIS[0].topic0),
            F.concat(F.lit("0x"), wallet_w),                      # account
            F.concat(F.lit("0x"), F.when(d == 0, wa).otherwise(wb)),  # src
            F.concat(F.lit("0x"), F.when(d == 0, wb).otherwise(wa)),  # dst
        ).alias("topics"),
    )
    bsync = o.filter(k % 5 == 1).select(
        F.lit(0).alias("log_index"), *common,
        paddr(0x8c0).alias("address"),
        F.concat(F.lit("0x"), w64(r0_raw), w64(r1_raw)).alias("data"),
        F.array(F.lit(SUSHI_BENTO_ABIS[1].topic0)).alias("topics"),
    )
    bswap = o.filter(k % 5 == 1).select(
        F.lit(1).alias("log_index"), *common,
        paddr(0x8c0).alias("address"),
        F.concat(
            F.lit("0x"),
            F.when(d == 0, w64(cust)).otherwise(w64(price)),   # amountIn
            F.when(d == 0, w64(price)).otherwise(w64(cust)),   # amountOut
        ).alias("data"),
        F.array(
            F.lit(SUSHI_BENTO_ABIS[0].topic0),
            F.concat(F.lit("0x"), wallet_w),                       # recipient
            F.concat(F.lit("0x"), F.when(d == 0, wa).otherwise(wb)),  # tokenIn
            F.concat(F.lit("0x"), F.when(d == 0, wb).otherwise(wa)),  # tokenOut
        ).alias("topics"),
    )
    wo = o.filter(k % 5 == 2).select(
        F.lit(1).alias("log_index"), *common,
        paddr(0x8e0).alias("address"),
        F.concat(
            F.lit("0x"), wa, wb, w64(cust), w64(price)
        ).alias("data"),
        F.array(
            F.lit(WOMBAT_ABIS[0].topic0),
            F.concat(F.lit("0x"), wallet_w),     # sender
            F.concat(F.lit("0x"), wallet_w),     # to
        ).alias("topics"),
    )
    ca = o.filter(k % 5 == 3).select(
        F.lit(1).alias("log_index"), *common,
        F.concat(F.lit("0x"), F.lpad(F.lit("8f1"), 40, "0")).alias("address"),
        F.concat(
            F.lit("0x"), w64(cust), w64(price), w64(F.lit(0)), w64(F.lit(0))
        ).alias("data"),
        F.array(
            F.lit(CARBON_ABIS[0].topic0),
            F.concat(F.lit("0x"), wallet_w),     # trader
            F.concat(F.lit("0x"), wa),           # sourceToken
            F.concat(F.lit("0x"), wb),           # targetToken
        ).alias("topics"),
    )
    fj = o.filter(k % 5 == 4).select(
        F.lit(1).alias("log_index"), *common,
        paddr(0x920).alias("address"),
        # Buy data = (assets, shares, fee); Sell REVERSES to (shares,
        # assets, fee) — assets stays cust, shares stays price in both
        F.when(
            d == 0,
            F.concat(F.lit("0x"), w64(cust), w64(price), w64(F.lit(0))),
        ).otherwise(
            F.concat(F.lit("0x"), w64(price), w64(cust), w64(F.lit(0))),
        ).alias("data"),
        F.array(
            F.when(d == 0, F.lit(FJORD_ABIS[0].topic0)).otherwise(
                F.lit(FJORD_ABIS[1].topic0)
            ),
            F.concat(F.lit("0x"), wallet_w),     # caller
        ).alias("topics"),
    )
    logs = oi.unionByName(bsync).unionByName(bswap).unionByName(wo) \
        .unionByName(ca).unionByName(fj)
    abis = ONE_INCH_ABIS + SUSHI_BENTO_ABIS + WOMBAT_ABIS + CARBON_ABIS + FJORD_ABIS
    parsed = parse_logs(logs, build_inventory(spark, abis), abis)
    mkpools = lambda base: [  # noqa: E731
        (f"0x{base + i:040x}", "0xfac", [tok_a, tok_b], 0, []) for i in range(20)
    ]
    pools = spark.createDataFrame(
        mkpools(0x880) + mkpools(0x8c0) + mkpools(0x920), POOL_DDL
    )
    tokens = spark.createDataFrame(
        [(tok_a, "A", 6), (tok_b, "B", 9)], TOKEN_DIM_DDL
    )
    shape = [
        "pool_address", "transaction_hash", "block_number", "event_type",
        "amm", "token_amounts", "token_reserves", "token_prices",
    ]
    # one combined join tree for all five families (operators/dex_combined.py,
    # the extractor the streamer runs) — this oracle pins each family's
    # semantics, and several families sharing one tree
    from ethereum_etl_spark.operators.dex_combined import (
        extract_dex_trades_combined,
    )

    t = extract_dex_trades_combined(
        parsed, pools, tokens,
        families=["one_inch", "sushiswap_bento", "wombat", "carbondefi", "fjord"],
    ).select(*shape)
    fj_sell = F.col("event_type")  # fjord Sell rows still carry 'swap'
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        fj_sell.alias("event_type"),
        "amm",
        (F.round(F.element_at("token_amounts", 1), 6) + F.lit(0.0)).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(F.element_at("token_reserves", 1), 6).alias("reserve0"),
        F.round(F.element_at("token_reserves", 2), 6).alias("reserve1"),
        F.round(
            F.element_at("token_prices", 1).cast("decimal(38,12)"), 6
        ).cast("double").alias("price0"),
        F.round(
            F.element_at("token_prices", 2).cast("decimal(38,12)"), 6
        ).cast("double").alias("price1"),
    )


@_q(
    "q57_family_pool_discovery",
    """
    WITH s AS (SELECT s_suppkey AS k FROM supplier),
    plain AS (
      SELECT '0x' || lpad(lower(to_hex(k * 3 + 1)), 40, '0') AS address,
             '0x' || lpad('cfac', 40, '0') AS factory_address,
             '0x' || lpad(lower(to_hex(k + 1)), 40, '0') AS token0,
             '0x' || lpad(lower(to_hex(k + 2)), 40, '0') AS token1,
             CAST(NULL AS VARCHAR) AS underlying,
             4000000 AS fee, 'curve' AS amm, k AS block_number
      FROM s WHERE k % 4 = 0),
    meta AS (
      SELECT '0x' || lpad(lower(to_hex(k * 3 + 1)), 40, '0') AS address,
             '0x' || lpad('cfac', 40, '0') AS factory_address,
             '0x' || lpad(lower(to_hex(k + 100)), 40, '0') AS token0,
             '0x' || lpad(lower(to_hex((k - 1) * 3 + 1)), 40, '0') AS token1,
             '0x' || lpad(lower(to_hex(k + 100)), 40, '0') || ',' ||
             '0x' || lpad(lower(to_hex(k)), 40, '0') || ',' ||
             '0x' || lpad(lower(to_hex(k + 1)), 40, '0') ||
             CASE WHEN (k - 1) % 8 = 0
                  THEN ',' || '0x' || lpad(lower(to_hex(k + 2)), 40, '0')
                  ELSE '' END AS underlying,
             4000000 AS fee, 'curve' AS amm, k AS block_number
      FROM s WHERE k % 4 = 1 AND k > 1),
    dodo AS (
      SELECT '0x' || lpad(lower(to_hex(k * 5 + 1)), 40, '0') AS address,
             '0x' || lpad('dzoo', 40, '0') AS factory_address,
             '0x' || lpad(lower(to_hex(k)), 40, '0') AS token0,
             '0x' || lpad(lower(to_hex(k + 1)), 40, '0') AS token1,
             CAST(NULL AS VARCHAR) AS underlying,
             0 AS fee, 'dodo' AS amm, k AS block_number
      FROM s WHERE k % 4 = 2),
    dvm AS (
      SELECT '0x' || lpad(lower(to_hex(k * 5 + 2)), 40, '0') AS address,
             '0x' || lpad('dvm2', 40, '0') AS factory_address,
             '0x' || lpad(lower(to_hex(k)), 40, '0') AS token0,
             '0x' || lpad(lower(to_hex(k + 1)), 40, '0') AS token1,
             CAST(NULL AS VARCHAR) AS underlying,
             0 AS fee, 'dodo_v2' AS amm, k AS block_number
      FROM s WHERE k % 4 = 3),
    sol AS (
      SELECT '0x' || lpad(lower(to_hex(k * 7 + 3)), 40, '0') AS address,
             '0x' || lpad('5fac', 40, '0') AS factory_address,
             '0x' || lpad(lower(to_hex(k)), 40, '0') AS token0,
             '0x' || lpad(lower(to_hex(k + 1)), 40, '0') AS token1,
             CAST(NULL AS VARCHAR) AS underlying,
             3000 AS fee, 'canto_dex' AS amm, k AS block_number
      FROM s)
    SELECT * FROM plain UNION ALL SELECT * FROM meta
    UNION ALL SELECT * FROM dodo UNION ALL SELECT * FROM dvm
    UNION ALL SELECT * FROM sol
    """,
)
def q57(spark, sf):
    """Factory discovery for the non-uniswap families (VERDICT r4 item 1):
    curve PlainPoolDeployed — the event carries COINS but not the pool
    address; discover_pools resolves it through the SAME transaction's
    contract-creation row (the reference instead RPC-walks the registry,
    curve.py:96-130) — curve MetaPoolDeployed with underlying = [coin] +
    base-pool coins resolved against the batch's plain pools
    (curve.py:214-224), DODOBirth (v1) and NewDVM (v2) whose events carry
    the pool. Plain pools alternate 2-coin / 3-coin (k % 8) exercising the
    N-coin zero-address filter of the address[4] fixed layout."""
    from ethereum_etl_spark.operators.dex import FACTORY_ABIS, discover_pools
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    PLAIN = next(a for a in FACTORY_ABIS if a.name == "PlainPoolDeployed")
    META = next(a for a in FACTORY_ABIS if a.name == "MetaPoolDeployed")
    BIRTH = next(a for a in FACTORY_ABIS if a.name == "DODOBirth")
    NEWDVM = next(a for a in FACTORY_ABIS if a.name == "NewDVM")
    SOLPC = next(a for a in FACTORY_ABIS if a.namespace == "solidly")
    s = ld(spark, sf, "supplier").select(F.col("s_suppkey").alias("k"))
    k = F.col("k")

    def aw(c):
        return F.lpad(F.lower(F.hex(c)), 64, "0")

    zero_w = F.lpad(F.lit("0"), 64, "0")
    common = [
        F.lit(0).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
    ]
    fac = lambda tag: F.concat(F.lit("0x"), F.lpad(F.lit(tag), 40, "0"))  # noqa: E731
    plain_logs = s.filter("k % 4 = 0").select(
        *common,
        fac("cfac").alias("address"),
        F.concat(
            F.lit("0x"), aw(k + 1), aw(k + 2),
            F.when(k % 8 == 0, aw(k + 3)).otherwise(zero_w), zero_w,
            aw(F.lit(200)), aw(F.lit(4_000_000)), aw(F.lit(77)),
        ).alias("data"),
        F.array(F.lit(PLAIN.topic0)).alias("topics"),
    )
    meta_logs = s.filter("k % 4 = 1 AND k > 1").select(
        *common,
        fac("cfac").alias("address"),
        F.concat(
            F.lit("0x"), aw(k + 100), aw((k - 1) * 3 + 1),
            aw(F.lit(200)), aw(F.lit(4_000_000)), aw(F.lit(77)),
        ).alias("data"),
        F.array(F.lit(META.topic0)).alias("topics"),
    )
    dodo_logs = s.filter("k % 4 = 2").select(
        *common,
        fac("dzoo").alias("address"),
        F.concat(F.lit("0x"), aw(k * 5 + 1), aw(k), aw(k + 1)).alias("data"),
        F.array(F.lit(BIRTH.topic0)).alias("topics"),
    )
    dvm_logs = s.filter("k % 4 = 3").select(
        *common,
        fac("dvm2").alias("address"),
        F.concat(
            F.lit("0x"), aw(k), aw(k + 1), aw(F.lit(77)), aw(k * 5 + 2)
        ).alias("data"),
        F.array(F.lit(NEWDVM.topic0)).alias("topics"),
    )
    # solidly/canto 5-field PairCreated: indexed token0/token1, data =
    # [stable, pair, idx]; the factory_amm map relabels the default
    # 'solidly' to the deployment's dex name (canto_dex) — the reference's
    # deploys/metadata.json role
    sol_logs = s.select(
        *common,
        fac("5fac").alias("address"),
        F.concat(F.lit("0x"), aw(k % 2), aw(k * 7 + 3), aw(F.lit(9))).alias("data"),
        F.array(
            F.lit(SOLPC.topic0),
            F.concat(F.lit("0x"), aw(k)),
            F.concat(F.lit("0x"), aw(k + 1)),
        ).alias("topics"),
    )
    logs = (
        plain_logs.unionByName(meta_logs)
        .unionByName(dodo_logs).unionByName(dvm_logs)
        .unionByName(sol_logs)
    )
    # the same-tx contract creations (the trace stream's creation rows)
    contracts = s.filter("k % 4 <= 1").select(
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(k * 3 + 1)), 40, "0")).alias("address"),
    )
    abis = [PLAIN, META, BIRTH, NEWDVM, SOLPC]
    parsed = parse_logs(logs, build_inventory(spark, abis), abis)
    pools = discover_pools(
        parsed,
        factory_amm={"0x" + "5fac".rjust(40, "0"): "canto_dex"},
        contracts=contracts,
    )
    return pools.select(
        "address",
        "factory_address",
        F.element_at("token_addresses", 1).alias("token0"),
        F.element_at("token_addresses", 2).alias("token1"),
        F.array_join("underlying_token_addresses", ",").alias("underlying"),
        "fee",
        "amm",
        "block_number",
    )


@_q(
    "q58_ohlcv_candles_5m",
    """
    WITH b AS (
      SELECT event_type,
             to_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)) AS bs,
             ts, event_id,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    o AS (SELECT event_type, bs, v,
                 row_number() OVER (PARTITION BY event_type, bs ORDER BY ts, event_id) rn
          FROM b),
    c AS (SELECT event_type, bs, v,
                 row_number() OVER (PARTITION BY event_type, bs ORDER BY ts DESC, event_id DESC) rn
          FROM b),
    a AS (SELECT event_type, bs,
                 CAST(max(v) AS DOUBLE) AS high, CAST(min(v) AS DOUBLE) AS low,
                 round(CAST(sum(abs(v)) AS DOUBLE), 4) AS volume,
                 count(*) AS trades
          FROM b GROUP BY event_type, bs)
    SELECT a.event_type, strftime(a.bs, '%Y-%m-%d %H:%M') AS bucket_start,
           CAST(o.v AS DOUBLE) AS open, a.high, a.low, CAST(c.v AS DOUBLE) AS close,
           a.volume, a.trades
    FROM a
    JOIN o ON o.event_type = a.event_type AND o.bs = a.bs AND o.rn = 1
    JOIN c ON c.event_type = a.event_type AND c.bs = a.bs AND c.rn = 1
    """,
)
def q58(spark, sf):
    """A1 at 5-minute resolution (VERDICT r3 item 9): the reference keeps
    FOUR candle MVs — 1m/5m/1h/1d (schema.sql:147-169 is the 5m one) — and
    the streamer maintains all four (streaming.streamer.CANDLE_BUCKETS);
    this pins the 5m bucket arithmetic the candles_5m table rides on (q09
    pins 1h, q52 pins 1d)."""
    e = ld(spark, sf, "events").withColumn("v", _dec("value", 18, 6))
    out = ohlcv(
        e, key_col="event_type", ts_col="ts", value_col="v",
        tiebreak_col="event_id", bucket="5 minutes",
    )
    return out.select(
        "event_type",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm").alias("bucket_start"),
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
        F.round(F.col("volume").cast("double"), 4).alias("volume"),
        "trades",
    )


@_q(
    "q59_meshswap_trades",
    """
    WITH base AS (
      SELECT o_orderkey AS k,
             '0x' || lpad(lower(to_hex(o_orderkey % 50)), 40, '0') AS pool_address,
             md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             CAST(o_custkey AS DOUBLE) AS cust,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS price,
             CAST(1000 + o_orderkey % 97 AS DOUBLE) AS r0,
             -- the 18-dec-leg raw words are scaled by 1e12 on the Spark
             -- side so the scaled values stay non-trivial at 6-digit
             -- rounding: raw*1e12/1e18 = raw/1e6
             CAST(5000 + o_orderkey % 89 AS DOUBLE) AS r1
      FROM orders WHERE o_orderkey <= 4096),
    -- ExchangePos (k even) sells pool token0: legs [+cust, -price];
    -- ExchangeNeg (k odd) sells pool token1: legs [-price, +cust]
    swaps AS (
      SELECT pool_address, tx, k, 'swap' AS event_type,
             CASE WHEN k % 2 = 0 THEN cust ELSE -price END AS a0,
             CASE WHEN k % 2 = 0 THEN -price ELSE cust END AS a1,
             r0, r1, CAST(NULL AS VARCHAR) AS wallet
      FROM base),
    liq AS (
      SELECT pool_address, tx, k,
             CASE WHEN k % 7 = 0 THEN 'mint' ELSE 'burn' END AS event_type,
             CASE WHEN k % 7 = 0 THEN cust ELSE -cust END AS a0,
             CASE WHEN k % 7 = 0 THEN price ELSE -price END AS a1,
             r0, r1, '0x' || repeat('ab', 20) AS wallet
      FROM base WHERE k % 7 IN (0, 3))
    SELECT pool_address, tx AS transaction_hash, k AS block_number,
           event_type,
           round(a0 / 1000000.0, 6) + 0.0 AS amount0,
           round(a1 / 1000000.0, 6) + 0.0 AS amount1,
           round(r0 / 1000000.0, 6) AS reserve0,
           round(r1 / 1000000.0, 6) AS reserve1,
           round((r1 / 1000000.0) / (r0 / 1000000.0), 6) AS price0,
           wallet
    FROM (SELECT * FROM swaps UNION ALL SELECT * FROM liq)
    """,
)
def q59(spark, sf):
    """Meshswap trade assembly (reference meshswap/meshswap.py): the
    Exchange events name the SOLD token, so the extractor maps amounts onto
    pool token order by address comparison; AddLiquidity/RemoveLiquidity
    amounts are read in pool order through the inherited v2 handlers.
    Reserve marks ride meshswap's Sync, which is byte-identical to uniswap
    v2's (same topic0) and therefore decodes under the v2 inventory row."""
    from ethereum_etl_spark.operators.dex import (
        MESHSWAP_ABIS,
        POOL_DDL,
        TOKEN_DIM_DDL,
        UNISWAP_V2_ABIS,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    SYNC = UNISWAP_V2_ABIS[1]
    POS, NEG, ADD, REM = MESHSWAP_ABIS[:4]
    tok_a, tok_b = "0x" + "2" * 40, "0x" + "3" * 40
    wa, wb = F.lpad(F.lit("2" * 40), 64, "0"), F.lpad(F.lit("3" * 40), 64, "0")
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    common = [
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(k % 50)), 40, "0")).alias("address"),
    ]
    cust, price = F.col("o_custkey"), F.floor("o_totalprice")
    E12 = F.lit(10**12)  # 18-dec-leg raw words carry *1e12 (oracle note)
    sync_logs = o.select(
        F.lit(0).alias("log_index"), *common,
        F.concat(
            F.lit("0x"), w64(F.lit(1000) + k % 97), w64((F.lit(5000) + k % 89) * E12)
        ).alias("data"),
        F.array(F.lit(SYNC.topic0)).alias("topics"),
    )
    # Pos sells event-token0 (= pool t0, 6-dec); Neg's event token0 is the
    # pool's 18-dec t1 — the *1e12 rides whichever slot holds the 18-dec leg
    swap_logs = o.select(
        F.lit(1).alias("log_index"), *common,
        F.concat(
            F.lit("0x"),
            F.when(k % 2 == 0, wa).otherwise(wb),
            F.when(k % 2 == 0, w64(cust)).otherwise(w64(cust * E12)),
            F.when(k % 2 == 0, wb).otherwise(wa),
            F.when(k % 2 == 0, w64(price * E12)).otherwise(w64(price)),
        ).alias("data"),
        F.array(
            F.when(k % 2 == 0, F.lit(POS.topic0)).otherwise(F.lit(NEG.topic0))
        ).alias("topics"),
    )
    liq_logs = o.filter((k % 7 == 0) | (k % 7 == 3)).select(
        F.lit(2).alias("log_index"), *common,
        F.concat(
            F.lit("0x"), wallet_w, wa, w64(cust), wb, w64(price * E12), w64(F.lit(1))
        ).alias("data"),
        F.array(
            F.when(k % 7 == 0, F.lit(ADD.topic0)).otherwise(F.lit(REM.topic0))
        ).alias("topics"),
    )
    logs = sync_logs.unionByName(swap_logs).unionByName(liq_logs)
    abis = MESHSWAP_ABIS + [SYNC]
    parsed = parse_logs(logs, build_inventory(spark, abis), abis)
    pools = spark.createDataFrame(
        [(f"0x{i:040x}", "0xfac", [tok_a, tok_b], 3000, []) for i in range(50)],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [(tok_a, "AAA", 6), (tok_b, "BBB", 18)], TOKEN_DIM_DDL
    )
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["meshswap"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        (F.round(F.element_at("token_amounts", 1), 6) + F.lit(0.0)).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(F.element_at("token_reserves", 1), 6).alias("reserve0"),
        F.round(F.element_at("token_reserves", 2), 6).alias("reserve1"),
        F.round(F.element_at("token_prices", 1), 6).alias("price0"),
        F.col("wallet_address").alias("wallet"),
    )


@_q(
    "q60_liquidity_event_enrichment",
    """
    -- the fixture's LP-transfer chains are deterministic by construction
    -- (one chain per wallet, depth <= 2), so the oracle computes the
    -- reference's merged/pro-rated output closed-form per order key
    WITH s AS (
      SELECT o_orderkey AS k FROM orders
      WHERE o_orderkey <= 2048 AND o_orderkey % 31 != 7),
    base AS (
      SELECT k, md5(CAST(k AS VARCHAR)) AS tx,
             '0x' || lpad(lower(to_hex(k % 10)), 40, '0') AS pool,
             CASE WHEN k % 2 = 0 THEN 'mint' ELSE 'burn' END AS event_type,
             CAST(k % 97 + 1 AS DOUBLE) AS a0,
             CAST(k % 89 + 1 AS DOUBLE) AS a1,
             CAST(k % 7 + 1 AS DOUBLE) * 1e18 AS v,
             CAST(k % 5 + 1 AS DOUBLE) * 1e18 AS v2,
             '0xc1' || lpad(lower(to_hex(k * 3 + 7)), 38, '0') AS w1,
             '0xc2' || lpad(lower(to_hex(k * 3 + 11)), 38, '0') AS w2,
             CAST((k % 10 + 1) * 1000 AS DOUBLE) AS supply
      FROM s),
    legs AS (
      -- one output row per resolved LP transfer: the k%20=0 txs carry a
      -- second mint event AND a second LP mint, activating pro-rating
      SELECT *, (3 * a0) / (v + v2) * v AS p0, (3 * a1) / (v + v2) * v AS p1,
             v / 1e18 AS lp_amt, w1 AS wallet FROM base WHERE k % 20 = 0
      UNION ALL
      SELECT *, (3 * a0) / (v + v2) * v2 AS p0, (3 * a1) / (v + v2) * v2 AS p1,
             v2 / 1e18 AS lp_amt, w2 AS wallet FROM base WHERE k % 20 = 0
      UNION ALL
      SELECT *, a0 AS p0, a1 AS p1, v / 1e18 AS lp_amt, w1 AS wallet
      FROM base WHERE k % 20 != 0)
    SELECT tx AS transaction_hash, 5 AS log_index, pool AS pool_address,
           event_type, wallet AS wallet_address,
           round(p0, 6) AS amount0, round(p1, 6) AS amount1,
           round(lp_amt, 6) AS amount_lp,
           round(p0 * 1.0 + p1 * 2.0, 6) AS amount_stable,
           round(500.0 / supply, 6) AS price_lp,
           round(supply, 6) AS reserve_lp
    FROM legs
    """,
)
def q60(spark, sf):
    """Liquidity-event enrichment (reference enrich_dex_trades_job.py:141-263):
    mint/burn trades are merged per (tx, lp_token), re-emitted once per
    resolved LP-transfer chain with the terminal wallet, pro-rated when
    several events share the lp token, and the LP token appended as an
    extra leg priced from reserves_stable / total_supply."""
    from ethereum_etl_spark.operators.liquidity import enrich_liquidity_events

    NULL = "0x" + "0" * 40
    ROUTER = "0x" + "dd" * 20
    T0, T1 = "0x" + "2" * 40, "0x" + "3" * 40
    o = ld(spark, sf, "orders").filter("o_orderkey <= 2048 AND o_orderkey % 31 != 7")
    k = F.col("o_orderkey")

    def pad40(c):
        return F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(c.cast("long"))), 40, "0"))

    tx = F.md5(k.cast("string"))
    pool = pad40(k % 10)
    def wpad(prefix, c):
        return F.concat(
            F.lit(prefix), F.lpad(F.lower(F.hex(c.cast("long"))), 38, "0")
        )

    w1, w2 = wpad("0xc1", k * 3 + 7), wpad("0xc2", k * 3 + 11)
    a0 = (k % 97 + 1).cast("double")
    a1 = (k % 89 + 1).cast("double")
    v = (k % 7 + 1).cast("double") * F.lit(1e18)
    v2 = (k % 5 + 1).cast("double") * F.lit(1e18)
    is_mint = k % 2 == 0
    etype = F.when(is_mint, "mint").otherwise("burn")

    def trade(li, s0, s1):
        return [
            k.alias("block_number"), tx.alias("transaction_hash"),
            F.lit(li).alias("log_index"), pool.alias("pool_address"),
            etype.alias("event_type"),
            F.array(s0, s1).alias("token_amounts"),
            F.array(F.lit(100.0), F.lit(200.0)).alias("token_reserves"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("prices_stable"),
            F.array(F.lit(T0), F.lit(T1)).alias("token_addresses"),
            F.lit("0xfac").alias("factory_address"),
            F.lit("uniswap_v2").alias("amm"),
        ]

    trades = o.select(*trade(5, a0, a1)).unionByName(
        o.filter(k % 20 == 0).select(*trade(6, a0 * 2, a1 * 2))
    )

    def xfer(li, frm, to, val):
        return [
            tx.alias("transaction_hash"), F.lit(li).alias("log_index"),
            k.alias("block_number"), pool.alias("token_address"),
            frm.alias("from_address"), to.alias("to_address"),
            val.alias("value"),
        ]

    n = F.lit(NULL)
    r = F.lit(ROUTER)
    transfers = (
        # k%4==0: mint, LP minted straight to the wallet
        o.filter(k % 4 == 0).select(*xfer(10, n, w1, v))
        # k%4==2: mint routed NULL -> router -> wallet (2-hop chain)
        .unionByName(o.filter(k % 4 == 2).select(*xfer(10, n, r, v)))
        .unionByName(o.filter(k % 4 == 2).select(*xfer(11, r, w1, v)))
        # k%4==1: burn, LP sent straight to NULL
        .unionByName(o.filter(k % 4 == 1).select(*xfer(10, w1, n, v)))
        # k%4==3: burn routed wallet -> router -> NULL (upstream walk)
        .unionByName(o.filter(k % 4 == 3).select(*xfer(10, w1, r, v)))
        .unionByName(o.filter(k % 4 == 3).select(*xfer(11, r, n, v)))
        # k%20==0: a second LP mint to a second wallet (pro-rating)
        .unionByName(o.filter(k % 20 == 0).select(*xfer(12, n, w2, v2)))
    )
    pools = o.select(
        pool.alias("address"), F.array(pool).alias("lp_token_addresses")
    ).distinct()
    tokens = o.select(
        pool.alias("address"), F.lit(18).alias("decimals"),
        ((k % 10 + 1).cast("double") * F.lit(1e21)).alias("total_supply"),
    ).distinct()

    out = enrich_liquidity_events(trades, transfers, pools, tokens)
    return out.select(
        "transaction_hash", "log_index", "pool_address", "event_type",
        "wallet_address",
        F.round(F.element_at("token_amounts", 1), 6).alias("amount0"),
        F.round(F.element_at("token_amounts", 2), 6).alias("amount1"),
        F.round(F.element_at("token_amounts", 3), 6).alias("amount_lp"),
        F.round("amount_stable", 6).alias("amount_stable"),
        F.round(F.element_at("prices_stable", 3), 6).alias("price_lp"),
        F.round(F.element_at("token_reserves", 3), 6).alias("reserve_lp"),
    )


@_q(
    "q61_wombat_platypus_liquidity",
    """
    WITH s AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= 3000),
    base AS (
      SELECT k, md5(CAST(k AS VARCHAR)) AS tx,
             '0x' || lpad(lower(to_hex(k % 10)), 40, '0') AS pool,
             k % 3 AS ci,
             CASE WHEN k % 2 = 0 THEN 'deposit' ELSE 'withdraw' END AS event_type,
             CASE WHEN k % 10 % 2 = 0 THEN 'wombat' ELSE 'platypus' END AS amm,
             CAST(k % 9 + 1 AS DOUBLE) AS amt,
             '0xc1' || lpad(lower(to_hex(k * 7 + 3)), 38, '0') AS wallet
      FROM s)
    SELECT tx AS transaction_hash, 3 AS log_index, pool AS pool_address,
           event_type, amm, wallet AS wallet_address,
           CASE WHEN ci = 0 THEN amt ELSE 0.0 END AS amount0,
           CASE WHEN ci = 1 THEN amt ELSE 0.0 END AS amount1,
           CASE WHEN ci = 2 THEN amt ELSE 0.0 END AS amount2
    FROM base
    """,
)
def q61(spark, sf):
    """Wombat/platypus Deposit/Withdraw liquidity rows (wombat.py:115-129,
    256-302): one-sided amount at the event token's position in the pool's
    N-coin order; platypus pools (byte-identical PoolSecondary events)
    attribute through the pool dimension's amm label."""
    from ethereum_etl_spark.operators.dex import (
        WOMBAT_ABIS,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    DEP, WDR = WOMBAT_ABIS[1], WOMBAT_ABIS[2]
    o = ld(spark, sf, "orders").filter("o_orderkey <= 3000")
    k = F.col("o_orderkey")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    def aw(c):  # address word (left-padded 20-byte address)
        return F.lpad(F.lpad(F.lower(F.hex(c.cast("long"))), 40, "0"), 64, "0")

    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(k % 10)), 40, "0"))
    # pool i holds tokens [i*3+100, i*3+101, i*3+102] with decimals 6/18/8
    tok_addr = lambda c: F.concat(  # noqa: E731
        F.lit("0x"), F.lpad(F.lower(F.hex(c.cast("long"))), 40, "0")
    )
    ci = k % 3
    ev_tok = (k % 10) * 3 + 100 + ci
    dec = F.when(ci == 0, 6).when(ci == 1, 18).otherwise(8)
    # raw word must fit int64: amt <= 9 keeps 9e18 < 2^63
    amt_raw = (k % 9 + 1).cast("decimal(38,0)") * F.pow(F.lit(10.0), dec).cast(
        "decimal(38,0)"
    )
    wallet_w = F.lpad(
        F.concat(F.lit("c1"), F.lpad(F.lower(F.hex(k * 7 + 3)), 38, "0")), 64, "0"
    )
    logs = o.select(
        F.lit(3).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        pool.alias("address"),
        F.concat(
            F.lit("0x"), aw(ev_tok), w64(amt_raw), w64(F.lit(1))
        ).alias("data"),
        F.array(
            F.when(k % 2 == 0, F.lit(DEP.topic0)).otherwise(F.lit(WDR.topic0)),
            F.concat(F.lit("0x"), aw(k)),  # sender (unused)
            F.concat(F.lit("0x"), wallet_w),  # to
        ).alias("topics"),
    )
    abis = [DEP, WDR]
    parsed = parse_logs(logs, build_inventory(spark, abis), abis)
    r = spark.range(0, 10)
    i = F.col("id")
    pools = r.select(
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(i)), 40, "0")).alias("address"),
        F.lit("0xfac").alias("factory_address"),
        F.array(
            tok_addr(i * 3 + 100), tok_addr(i * 3 + 101), tok_addr(i * 3 + 102)
        ).alias("token_addresses"),
        F.lit(0).alias("fee"),
        F.array().cast("array<string>").alias("lp_token_addresses"),
        F.when(i % 2 == 0, "wombat").otherwise("platypus").alias("amm"),
    )
    tokens = r.select(
        F.explode(
            F.array(
                F.struct(tok_addr(i * 3 + 100).alias("address"), F.lit(6).alias("decimals")),
                F.struct(tok_addr(i * 3 + 101).alias("address"), F.lit(18).alias("decimals")),
                F.struct(tok_addr(i * 3 + 102).alias("address"), F.lit(8).alias("decimals")),
            )
        ).alias("t")
    ).select("t.address", F.lit("X").alias("symbol"), "t.decimals")
    # the fixture holds only Deposit/Withdraw logs, so the wombat family
    # yields exactly its liquidity rows
    out = extract_dex_trades_combined(parsed, pools, tokens, families=["wombat"])
    return out.select(
        "transaction_hash", "log_index", "pool_address", "event_type", "amm",
        "wallet_address",
        F.round(F.element_at("token_amounts", 1), 6).alias("amount0"),
        F.round(F.element_at("token_amounts", 2), 6).alias("amount1"),
        F.round(F.element_at("token_amounts", 3), 6).alias("amount2"),
    )


@_q(
    "q62_bancor_v2_trades",
    """
    WITH s AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= 3000),
    base AS (
      SELECT k, md5(CAST(k AS VARCHAR)) AS tx,
             '0x' || lpad(lower(to_hex(k % 8)), 40, '0') AS pool,
             k % 3 AS kind,
             CAST(k % 50 + 1 AS DOUBLE) AS amt,
             CAST(k % 9 + 1 AS DOUBLE) AS ret,
             CAST(k % 7 + 1 AS DOUBLE) AS lamt,
             CAST(k % 8 + 1 AS DOUBLE) AS nbal,
             '0xc1' || lpad(lower(to_hex(k * 7 + 3)), 38, '0') AS wallet
      FROM s)
    SELECT tx AS transaction_hash, 4 AS log_index, pool AS pool_address,
           CASE kind WHEN 0 THEN 'swap' WHEN 1 THEN 'mint' ELSE 'burn' END AS event_type,
           wallet AS wallet_address,
           CASE kind WHEN 0 THEN -amt WHEN 1 THEN 0.0 ELSE -lamt END AS amount0,
           CASE kind WHEN 0 THEN ret WHEN 1 THEN lamt ELSE 0.0 END AS amount1,
           CASE kind WHEN 2 THEN nbal ELSE 0.0 END AS reserve0,
           CASE kind WHEN 1 THEN nbal ELSE 0.0 END AS reserve1,
           CASE kind WHEN 0 THEN round(ret / amt, 6) ELSE 0.0 END AS price0
    FROM base
    """,
)
def q62(spark, sf):
    """Bancor v2 Conversion/LiquidityAdded/LiquidityRemoved → dex_trades
    (bancor_v2.py dead-code semantics, BANCOR_V2_ABIS note): swap legs
    -_amount/+_return mapped by reserve order, one-sided liquidity legs
    with the event's _newBalance as that leg's reserve."""
    from ethereum_etl_spark.operators.dex import (
        BANCOR_V2_ABIS,
        POOL_DDL,
        TOKEN_DIM_DDL,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    CONV, ADD, REM = BANCOR_V2_ABIS
    tok_a, tok_b = "0x" + "4" * 40, "0x" + "5" * 40
    wa = F.lpad(F.lit("4" * 40), 64, "0")
    wb = F.lpad(F.lit("5" * 40), 64, "0")
    o = ld(spark, sf, "orders").filter("o_orderkey <= 3000")
    k = F.col("o_orderkey")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    E6, E18 = F.lit(10**6), F.lit(10**18)
    kind = k % 3
    wallet_w = F.lpad(
        F.concat(F.lit("c1"), F.lpad(F.lower(F.hex(k * 7 + 3)), 38, "0")), 64, "0"
    )
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(k % 8)), 40, "0"))
    common = [
        F.lit(4).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        pool.alias("address"),
    ]
    conv_logs = o.filter(kind == 0).select(
        *common,
        F.concat(
            F.lit("0x"), w64((k % 50 + 1) * E6), w64((k % 9 + 1) * E18), w64(F.lit(0))
        ).alias("data"),
        F.array(
            F.lit(CONV.topic0),
            F.concat(F.lit("0x"), wa),
            F.concat(F.lit("0x"), wb),
            F.concat(F.lit("0x"), wallet_w),
        ).alias("topics"),
    )
    add_logs = o.filter(kind == 1).select(
        *common,
        F.concat(
            F.lit("0x"), w64((k % 7 + 1) * E18), w64((k % 8 + 1) * E18), w64(F.lit(1))
        ).alias("data"),
        F.array(
            F.lit(ADD.topic0),
            F.concat(F.lit("0x"), wallet_w),
            F.concat(F.lit("0x"), wb),
        ).alias("topics"),
    )
    rem_logs = o.filter(kind == 2).select(
        *common,
        F.concat(
            F.lit("0x"), w64((k % 7 + 1) * E6), w64((k % 8 + 1) * E6), w64(F.lit(1))
        ).alias("data"),
        F.array(
            F.lit(REM.topic0),
            F.concat(F.lit("0x"), wallet_w),
            F.concat(F.lit("0x"), wa),
        ).alias("topics"),
    )
    logs = conv_logs.unionByName(add_logs).unionByName(rem_logs)
    parsed = parse_logs(logs, build_inventory(spark, BANCOR_V2_ABIS), BANCOR_V2_ABIS)
    pools = spark.createDataFrame(
        [(f"0x{i:040x}", "0xfac", [tok_a, tok_b], 0, []) for i in range(8)],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [(tok_a, "AAA", 6), (tok_b, "BBB", 18)], TOKEN_DIM_DDL
    )
    out = extract_dex_trades_combined(parsed, pools, tokens, families=["bancor_v2"])
    return out.select(
        "transaction_hash", "log_index", "pool_address", "event_type",
        "wallet_address",
        (F.round(F.element_at("token_amounts", 1), 6) + F.lit(0.0)).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(F.element_at("token_reserves", 1), 6).alias("reserve0"),
        F.round(F.element_at("token_reserves", 2), 6).alias("reserve1"),
        F.round(F.element_at("token_prices", 1), 6).alias("price0"),
    )


@_q(
    "q63_saddle_trades",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             o_orderkey % 20 AS p, o_orderkey % 3 AS i, (o_orderkey + 1) % 3 AS j,
             CAST(o_custkey AS DOUBLE) AS sold,
             CAST(floor(o_totalprice) AS BIGINT)::DOUBLE AS bought,
             o_orderkey % 2 AS und
      FROM orders WHERE o_orderkey <= 4096),
    resolved AS (
      SELECT k, tx, '0x' || lpad(lower(to_hex(700 + p)), 40, '0') AS pool_address,
             CASE WHEN und = 1
                  THEN '0x' || lpad(lower(to_hex(1000 + 3 * p + i)), 40, '0')
                  ELSE '0x' || lpad(lower(to_hex(10 + 3 * p + i)), 40, '0') END AS token0,
             CASE WHEN und = 1
                  THEN '0x' || lpad(lower(to_hex(1000 + 3 * p + j)), 40, '0')
                  ELSE '0x' || lpad(lower(to_hex(10 + 3 * p + j)), 40, '0') END AS token1,
             sold / power(10, CASE WHEN und = 1 THEN (3 * p + i) % 3
                                   ELSE ((3 * p + i) % 2) * 3 END) AS a0,
             -bought / power(10, CASE WHEN und = 1 THEN (3 * p + j) % 3
                                      ELSE ((3 * p + j) % 2) * 3 END) AS a1
      FROM base)
    SELECT pool_address, tx AS transaction_hash, k AS block_number,
           'swap' AS event_type, 'saddle' AS amm, token0, token1,
           round(a0, 6) AS amount0, round(a1, 6) + 0.0 AS amount1,
           CASE WHEN a0 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a1 / a0) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price0,
           CASE WHEN a1 = 0 THEN 0.0
                ELSE CAST(round(CAST(abs(a0 / a1) AS DECIMAL(38,12)), 6) AS DOUBLE) END AS price1
    FROM resolved
    """,
)
def q63(spark, sf):
    """Saddle coin-index swaps (reference service/dex/saddle/saddle.py:87-105,
    SaddlePoolV2.json — curve semantics under saddle's OWN event layout:
    amounts-first words, unsigned uint128 indices): TokenSwap (even keys)
    resolves soldId/boughtId against the pool's 3-coin array,
    TokenSwapUnderlying (odd keys) against its underlying coin array. The
    oracle replays the index → token → scalar resolution arithmetically —
    same algebra as q48's, shifted to saddle's word order and pool ids."""
    from ethereum_etl_spark.operators.dex import (
        SADDLE_ABIS,
        TOKEN_DIM_DDL,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    SWAP, SWAP_U = SADDLE_ABIS
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(700) + k % 20)), 40, "0"))
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    logs = o.select(
        F.lit(1).alias("log_index"),
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        pool.alias("address"),
        F.concat(
            F.lit("0x"),
            w64(F.col("o_custkey")),                     # tokensSold
            w64(F.floor("o_totalprice")),                # tokensBought
            w64(k % 3),                                  # soldId
            w64((k + 1) % 3),                            # boughtId
        ).alias("data"),
        F.array(
            F.when(k % 2 == 1, F.lit(SWAP_U.topic0)).otherwise(F.lit(SWAP.topic0)),
            F.concat(F.lit("0x"), wallet_w),
        ).alias("topics"),
    )
    inv = build_inventory(spark, SADDLE_ABIS)
    parsed = parse_logs(logs, inv, SADDLE_ABIS)

    def addr(n):
        return f"0x{n:040x}"

    pools = spark.createDataFrame(
        [
            (addr(700 + p), "0xfac",
             [addr(10 + 3 * p + c) for c in range(3)], 0, [],
             [addr(1000 + 3 * p + c) for c in range(3)])
            for p in range(20)
        ],
        "address string, factory_address string, token_addresses array<string>,"
        "fee int, lp_token_addresses array<string>,"
        "underlying_token_addresses array<string>",
    )
    tokens = spark.createDataFrame(
        [(addr(10 + b), f"C{b}", (b % 2) * 3) for b in range(60)]
        + [(addr(1000 + b), f"U{b}", b % 3) for b in range(60)],
        TOKEN_DIM_DDL,
    )
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["saddle"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        "amm",
        F.element_at("token_addresses", 1).alias("token0"),
        F.element_at("token_addresses", 2).alias("token1"),
        F.round(F.element_at("token_amounts", 1), 6).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(
            F.element_at("token_prices", 1).cast("decimal(38,12)"), 6
        ).cast("double").alias("price0"),
        F.round(
            F.element_at("token_prices", 2).cast("decimal(38,12)"), 6
        ).cast("double").alias("price1"),
    )


@_q("q64_media_thumbnails", None)
def q64(spark, sf):
    """Multimodal resize: REAL PNG decode → nearest-neighbor 8x8 greyscale
    thumbnails (operators/multimodal.py resize_images), undecodable images
    dropped. Rows-only check (the decode is not SQL-expressible); exact
    thumbnail bytes are pinned in tests/test_multimodal.py against an
    independent reference decode."""
    from ethereum_etl_spark.operators.multimodal import resize_images

    media = synthesize_media(spark, n=200)
    t = resize_images(media, 8, 8)
    return t.select(
        "media_id", "thumb_width", "thumb_height",
        F.crc32("thumb").alias("thumb_crc"),
    )


@_q(
    "q65_dmm_trades",
    """
    WITH base AS (
      SELECT o_orderkey AS k, md5(CAST(o_orderkey AS VARCHAR)) AS tx,
             o_orderkey % 20 AS p,
             (o_orderkey % 50 + 1)::DOUBLE AS a0in,
             (o_orderkey % 30 + 1)::DOUBLE / 10 AS a1out,
             (o_orderkey % 97 + 5)::DOUBLE AS r0,
             (o_orderkey % 89 + 3)::DOUBLE / 10 AS r1
      FROM orders WHERE o_orderkey <= 4096)
    SELECT '0x' || lpad(lower(to_hex(800 + p)), 40, '0') AS pool_address,
           tx AS transaction_hash, k AS block_number,
           'swap' AS event_type, 'dmm' AS amm,
           round(a0in, 6) AS amount0, round(-a1out, 6) + 0.0 AS amount1,
           round(r0, 6) AS reserve0, round(r1, 6) AS reserve1,
           CAST(round(CAST(r1 / r0 AS DECIMAL(38,12)), 6) AS DOUBLE) AS price0,
           CAST(round(CAST(r0 / r1 AS DECIMAL(38,12)), 6) AS DOUBLE) AS price1
    FROM base
    """,
)
def q65(spark, sf):
    """Kyber DMM swaps (reference service/dex/dmm — a UniswapV2Amm subclass
    ENABLED in the live factory, dex_client_factory.py:46): v2 in/out
    amount math under DMM's own Swap topic0 (trailing feeInPrecision word)
    with reserves from the 4-word Sync's trailing REAL pair — the no-RPC
    rendering of v2's getReserves(block-1) call. The oracle replays the
    scaling arithmetic directly."""
    from ethereum_etl_spark.operators.dex import (
        DMM_ABIS,
        POOL_DDL,
        TOKEN_DIM_DDL,
    )
    from ethereum_etl_spark.operators.dex_combined import extract_dex_trades_combined
    from ethereum_etl_spark.operators.parsed_logs import build_inventory, parse_logs

    SWAP, SYNC = DMM_ABIS
    o = ld(spark, sf, "orders").filter("o_orderkey <= 4096")
    k = F.col("o_orderkey")
    pool = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(F.lit(800) + k % 20)), 40, "0"))
    wallet_w = F.lpad(F.lit("ab" * 20), 64, "0")

    def w64(c):
        return F.lpad(F.lower(F.hex(c.cast("long"))), 64, "0")

    common = [
        F.md5(k.cast("string")).alias("transaction_hash"),
        F.lit(0).alias("transaction_index"),
        F.lit("0xb").alias("block_hash"),
        k.alias("block_number"),
        pool.alias("address"),
    ]
    sync_logs = o.select(
        F.lit(1).alias("log_index"),
        *common,
        F.concat(
            F.lit("0x"),
            w64(F.lit(123)), w64(F.lit(456)),                     # vReserves
            w64((k % 97 + 5) * 1_000_000),                        # reserve0
            w64((k % 89 + 3) * F.lit(10**17)),                    # reserve1
        ).alias("data"),
        F.array(F.lit(SYNC.topic0)).alias("topics"),
    )
    swap_logs = o.select(
        F.lit(2).alias("log_index"),
        *common,
        F.concat(
            F.lit("0x"),
            w64((k % 50 + 1) * 1_000_000),                        # amount0In
            w64(F.lit(0)), w64(F.lit(0)),
            w64((k % 30 + 1) * F.lit(10**17)),                    # amount1Out
            w64(F.lit(7)),                                        # feeInPrecision
        ).alias("data"),
        F.array(
            F.lit(SWAP.topic0),
            F.concat(F.lit("0x"), wallet_w),
            F.concat(F.lit("0x"), wallet_w),
        ).alias("topics"),
    )
    logs = sync_logs.unionByName(swap_logs)
    parsed = parse_logs(logs, build_inventory(spark, DMM_ABIS), DMM_ABIS)

    def addr(n):
        return f"0x{n:040x}"

    pools = spark.createDataFrame(
        [
            (addr(800 + p), "0xfac", [addr(2000 + 2 * p), addr(2001 + 2 * p)], 3000, [])
            for p in range(20)
        ],
        POOL_DDL,
    )
    tokens = spark.createDataFrame(
        [(addr(2000 + 2 * p), "T0", 6) for p in range(20)]
        + [(addr(2001 + 2 * p), "T1", 18) for p in range(20)],
        TOKEN_DIM_DDL,
    )
    t = extract_dex_trades_combined(parsed, pools, tokens, families=["dmm"])
    return t.select(
        "pool_address",
        "transaction_hash",
        "block_number",
        "event_type",
        "amm",
        F.round(F.element_at("token_amounts", 1), 6).alias("amount0"),
        (F.round(F.element_at("token_amounts", 2), 6) + F.lit(0.0)).alias("amount1"),
        F.round(F.element_at("token_reserves", 1), 6).alias("reserve0"),
        F.round(F.element_at("token_reserves", 2), 6).alias("reserve1"),
        F.round(
            F.element_at("token_prices", 1).cast("decimal(38,12)"), 6
        ).cast("double").alias("price0"),
        F.round(
            F.element_at("token_prices", 2).cast("decimal(38,12)"), 6
        ).cast("double").alias("price1"),
    )
