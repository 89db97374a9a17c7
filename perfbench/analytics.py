"""`analytics` workload: closed-loop passes over the headline queries.

Inputs are the harness's TPC-H-style star schema plus the `events`,
`documents` and `embeddings` tables, generated here from the workload
seed (same schemas as the harness fixtures). Every query runs through the
`plans` registry with a no-op sink; an untimed pass afterwards compares
each result with its DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import stats

# five of bench.py's ten headline queries, one per operator family: CDC
# latest-row dedup, candles, exact dedup, MinHash LSH and cosine top-k. At
# this scale a query's cost is mostly fixed per-query overhead; the other
# five and the xxhash64 LSH twin of q36 would add ~17 s to the cold warm-up
# pass, which the run's time budget cannot hold (see README.md)
QUERY_SET = [
    "q01_latest_event_per_key",
    "q09_ohlcv_candles",
    "q25_exact_dedup",
    "q36_minhash_lsh_fast",
    "q28_embedding_topk",
]

SCALE = 0.01  # harness scale factor of the generated tables
MIN_PASSES = 3  # timed passes per run, however short the window
WARM_PASSES = 2  # untimed no-op-sink passes after the collecting one
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join column data order group filter query stream big "
    "small customer"
).split()


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1_000_000).astype("int64") + int(base.timestamp() * 1_000_000)
    return pa.array(us, type=pa.timestamp("us"))


def generate(out_dir: str, seed: int, sf: float = SCALE) -> None:
    """Write the ten harness tables for ``seed`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    epoch = dt.datetime(1970, 1, 1)
    day = 86_400.0

    def write(name, cols: dict, schema: pa.Schema):
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))

    os.makedirs(out_dir, exist_ok=True)
    write("region", {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write("nation", {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    adj = np.array(["small", "red", "big", "green", "blue", "old"])
    noun = np.array(["ring", "widget", "gear", "bolt", "panel", "valve"])
    write("part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"])[
            rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    o_days = rng.integers(int((dt.datetime(1992, 1, 1) - epoch).days),
                          int((dt.datetime(1998, 12, 31) - epoch).days), n_ord)
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _ts(epoch, o_days * day),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))
    s_days = rng.integers(int((dt.datetime(1992, 1, 1) - epoch).days),
                          int((dt.datetime(2001, 12, 31) - epoch).days), n_li)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(epoch, s_days * day),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", pa.timestamp("us"))]))
    write("events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(dt.datetime(2024, 1, 1), rng.uniform(0, 30 * day, n_ev)),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(["signup", "purchase", "view", "click", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.1:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:  # near duplicate: one word replaced
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(["en", "zh", "es", "fr", "de"])[
            rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))
    emb = (rng.standard_normal((n_emb, 64)) * 0.1).astype("float32")
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.reshape(-1), 64).cast(
            pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


def fingerprint(data_dir: str) -> tuple[int, int]:
    """Row count plus an order-independent digest over every table."""
    con = duckdb.connect()
    parts = []
    for t in TABLES:
        parts.append(tuple(con.execute(
            f"SELECT count(*), coalesce(sum(hash(t)), 0) "
            f"FROM read_parquet('{data_dir}/{t}.parquet') t"
        ).fetchone()))
    con.close()
    return stats.combine_digests(parts)


def build_query(spark, name: str, data_dir: str):
    from ethereum_etl_spark.plans.harness_queries import QUERIES

    return QUERIES[name](spark, data_dir)


def run_pass(spark, data_dir: str, cpu_now, tracer=None,
             label: str = "pass") -> tuple[dict[str, float], dict[str, float]]:
    """One execution of every query into a no-op sink; returns each
    query's wall seconds and CPU seconds (``cpu_now()`` differences)."""
    times, cpus = {}, {}
    for name in QUERY_SET:
        if tracer is not None:
            tracer.parent = label
        c0, t0 = cpu_now(), time.time()
        build_query(spark, name, data_dir).write.mode("overwrite").format("noop").save()
        t1 = time.time()
        cpus[name] = cpu_now() - c0
        times[name] = t1 - t0
        if tracer is not None:
            tracer.record(f"plans.{name}", t0, t1)
    return times, cpus


# ---------------------------------------------------------------------------
# oracle check
# ---------------------------------------------------------------------------

def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    return v


def _sort_key(row):
    return tuple(
        (v is None, f"{v:.6g}" if isinstance(v, float) else str(v)) for v in row
    )


def _rows_match(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(sorted(a, key=_sort_key), sorted(b, key=_sort_key)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def collect_pass(spark, data_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """The untimed pass: every query's result collected to the driver
    (columns sorted by name). It doubles as the JIT warm-up."""
    out = {}
    for name in QUERY_SET:
        sdf = build_query(spark, name, data_dir)
        cols = sorted(sdf.columns)
        out[name] = (cols, [tuple(_norm(r[c]) for c in cols) for r in sdf.collect()])
    return out


def check_oracles(results: dict, data_dir: str) -> list[str]:
    """Names of the queries whose collected result differs from their
    DuckDB oracle (a query without an oracle must return rows)."""
    from ethereum_etl_spark.plans.harness_queries import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failed = []
    for name, (cols, got) in results.items():
        if name not in ORACLES:
            if not got:
                failed.append(name)
            continue
        rel = con.sql(ORACLES[name])
        if sorted(rel.columns) != cols:
            failed.append(name)
            continue
        idx = [rel.columns.index(c) for c in cols]
        want = [tuple(_norm(r[i]) for i in idx) for r in rel.fetchall()]
        if not _rows_match(got, want):
            failed.append(name)
    con.close()
    return failed


def run(spark, ctx) -> dict:
    """Setup (generate + fingerprint + the collecting pass + WARM_PASSES
    more), the measured window, then the oracle comparison."""
    data_dir = os.path.join(ctx.run_dir, "data")
    t0 = time.time()
    generate(data_dir, ctx.seed)
    fp = fingerprint(data_dir)
    ctx.setup["setup.input_s"] = time.time() - t0

    t0 = time.time()
    results = collect_pass(spark, data_dir)
    for _ in range(WARM_PASSES):
        run_pass(spark, data_dir, ctx.cpu_now)
    ctx.setup["setup.warmup_s"] = time.time() - t0
    ctx.setup["setup.history_s"] = 0.0
    ctx.setup_done()

    passes: list[dict[str, float]] = []
    pass_cpu: list[dict[str, float]] = []
    w0 = time.time()
    while time.time() - w0 < ctx.seconds or len(passes) < MIN_PASSES:
        times, cpus = run_pass(spark, data_dir, ctx.cpu_now, ctx.tracer, f"pass-{len(passes)}")
        passes.append(times)
        pass_cpu.append(cpus)
    w1 = time.time()
    ctx.mark("window")

    samples = [t for p in passes for t in p.values()]
    per_query = {q: stats.percentile([p[q] for p in passes], 0.5) for q in QUERY_SET}
    per_query_cpu = {q: statistics.median([p[q] for p in pass_cpu]) for q in QUERY_SET}
    per_layer = {f"plans.{q}_s": v for q, v in per_query.items()}
    per_layer["plans.pass_s"] = stats.percentile([sum(p.values()) for p in passes], 0.5)
    return {
        "fingerprint": fp,
        "window": (w0, w1),
        # each query's median over the passes (robust to one slow pass),
        # averaged over the queries; a run holds too few executions for a
        # median with MIN_BEYOND samples beyond it
        "cpu": sum(per_query_cpu.values()) / len(per_query_cpu),
        "cpu_samples": [c for p in pass_cpu for c in p.values()],
        "cpu_what": "query execution (each query's median over the passes, mean over queries)",
        "latency": sum(per_query.values()) / len(per_query),
        "latency_samples": samples,
        "latency_what": "query execution (per-query median over passes, mean over queries)",
        "attempted": len(samples) + len(QUERY_SET),
        "failed_checks": check_oracles(results, data_dir),
        "failed_ops": 0,
        "per_layer": per_layer,
        "units": len(passes),
        "unit_s": [sum(p.values()) for p in passes],
        "unit_cpu_s": [sum(p.values()) for p in pass_cpu],
        "unit_what": "passes (s)",
    }
