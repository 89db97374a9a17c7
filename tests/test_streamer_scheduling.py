"""The streamer's one merge scheduler, its per-batch memo, the record a
failed cycle leaves, and the size of the streaming functions."""

from __future__ import annotations

import ast
import logging
import os
import pathlib
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from ethereum_etl_spark.lake import LakeTable
from ethereum_etl_spark.sources.wal import DEX_STABLE, ChainWalSpec, WalTailer, generate_chain_wal
from ethereum_etl_spark.streaming import ChainStreamer, StreamerConfig
from ethereum_etl_spark.streaming.batch import BatchMemo
from ethereum_etl_spark.streaming.streamer import DEPS

REPO = pathlib.Path(__file__).resolve().parents[1]
STREAMING = REPO / "ethereum_etl_spark" / "streaming"
MAX_FUNCTION_LINES = 200


def test_merges_follow_deps(spark, tmp_path, monkeypatch):
    """In one cycle over DEX, balance, stablecoin and candle tables, the
    upstream merge of every DEPS edge commits before its dependent merge
    starts: crash replay relies on the heads merging after every consumer
    of their pre-batch state."""
    spans: dict[str, list[tuple[float, float]]] = {}
    lock = threading.Lock()
    merge = LakeTable.merge_upsert

    def recording(self, *a, **k):
        t0 = time.monotonic()
        try:
            return merge(self, *a, **k)
        finally:
            with lock:
                spans.setdefault(os.path.basename(self.root), []).append(
                    (t0, time.monotonic())
                )

    monkeypatch.setattr(LakeTable, "merge_upsert", recording)
    wal = generate_chain_wal(
        spark, ChainWalSpec(start_block=0, end_block=15, dex_pools=3, dex_families=True)
    )
    ents = (
        "block", "transaction", "receipt", "log", "token",
        "token_transfer", "geth_trace", "trace", "contract",
        "token_balance", "dex_pool", "dex_trade", "liquidity_event", "candle",
    )
    cfg = StreamerConfig(
        warehouse=str(tmp_path / "wh"), batch_size=10**6, partition_size=16,
        entity_types=ents, stablecoins=(DEX_STABLE,),
    )
    s = ChainStreamer(spark, cfg)
    s.run(WalTailer(wal, batch_size=cfg.batch_size), max_cycles=1)

    assert all(len(v) == 1 for v in spans.values()), spans
    checked = set()
    for name, upstream in DEPS.items():
        for dep in upstream:
            if name in spans and dep in spans:
                (_s, dep_end), = spans[dep]
                (start, _e), = spans[name]
                assert dep_end <= start, (dep, name)
                checked.add((dep, name))
    assert {
        ("token_transfers", "candles_1m"),
        ("dex_pools", "dex_trades"),
        ("dex_trades", "price_marks_latest"),
        ("dex_trades", "token_balances_latest"),
        ("price_marks", "token_balances_latest"),
    } <= checked, checked


def test_batch_memo_builds_each_key_once_under_contention():
    """Many threads demanding nested keys at once: every key is built
    exactly once (a nested build on the same thread does not deadlock),
    every caller gets that one object, and each build is timed."""
    memo = BatchMemo()
    builds: dict[str, int] = {}
    lock = threading.Lock()

    def build(key, inner=None):
        def run():
            with lock:
                builds[key] = builds.get(key, 0) + 1
            if inner is not None:
                memo.get(inner, build(inner))
            return object()

        return run

    keys = {"parsed": None, "dims": "parsed", "raw": "dims", "candle_buckets": None}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=32) as ex:
            got = list(
                ex.map(
                    lambda i: [memo.get(k, build(k, keys[k])) for k in sorted(keys)],
                    range(256),
                    timeout=60,
                )
            )
    finally:
        sys.setswitchinterval(interval)
    assert builds == {k: 1 for k in keys}
    assert all(g == got[0] for g in got)
    assert set(memo.secs) == set(keys)


def test_failed_cycle_is_logged_then_raised(spark, tmp_path, monkeypatch, caplog):
    """A cycle whose batch fails logs one ERROR record naming the batch,
    then re-raises; the watermark does not move."""
    wal = generate_chain_wal(spark, ChainWalSpec(start_block=0, end_block=3))
    s = ChainStreamer(
        spark, StreamerConfig(warehouse=str(tmp_path / "wh"), entity_types=("block",))
    )

    def boom(*a, **k):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(s, "_apply_batch", boom)
    wm = s.watermarks.init_resume(0)
    with caplog.at_level(logging.ERROR, logger="ethereum_etl_spark.streaming.streamer"):
        with pytest.raises(RuntimeError, match="merge failed"):
            s.sync_cycle(WalTailer(wal, batch_size=32), wm)
    s._drop_prefetch()
    errors = [r for r in caplog.records if r.levelno >= logging.ERROR]
    assert len(errors) == 1
    lo, hi = s.watermarks.get_intent()
    assert f"batch {lo}-{hi}" in errors[0].getMessage()
    assert errors[0].exc_info[0] is RuntimeError
    assert s.watermarks.init_resume(0) == wm


def test_cycle_failure_record_reaches_stderr_unconfigured():
    """With no logging configured (a plain driver process), the record
    reaches stderr with its traceback."""
    code = (
        "import logging\n"
        "import ethereum_etl_spark.streaming.streamer as m\n"
        "try:\n"
        "    raise RuntimeError('boom')\n"
        "except RuntimeError:\n"
        "    logging.getLogger(m.__name__).exception('sync cycle failed')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        timeout=120, check=True,
    )
    assert "sync cycle failed" in out.stderr
    assert "RuntimeError: boom" in out.stderr


def test_streaming_functions_stay_small():
    """No function or nested function in the streaming package spans more
    than MAX_FUNCTION_LINES lines."""
    too_long = []
    for path in sorted(STREAMING.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                span = node.end_lineno - node.lineno + 1
                if span > MAX_FUNCTION_LINES:
                    too_long.append(f"{path.name}:{node.lineno} {node.name} ({span})")
    assert not too_long, too_long
