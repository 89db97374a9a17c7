"""Transfer-extractor unit suite mirroring the reference fixture cases
(tests/resources/test_extract_token_transfers_job + FIXTURES.md §4 rules)."""

from __future__ import annotations

from decimal import Decimal

from ethereum_etl_spark.operators.transfers import (
    ERC1155_BATCH_TOPIC,
    ERC1155_SINGLE_TOPIC,
    TRANSFER_EVENT_TOPIC,
    extract_token_transfers,
)
from ethereum_etl_spark.schemas import LOG_SCHEMA

A1 = "a" * 40
A2 = "b" * 40
OP = "c" * 40


def _word_addr(a40: str) -> str:
    return "0x" + "0" * 24 + a40


def _word_int(v: int) -> str:
    return hex(v)[2:].rjust(64, "0")


def _log(idx, topics, data, address="0x" + "D" * 40):
    return (idx, f"0xtx{idx}", 0, "0xblk", 100, address, data, topics)


def test_all_standards_and_skip_rules(spark):
    rows = [
        # 0: ERC-20 good
        _log(0, [TRANSFER_EVENT_TOPIC, _word_addr(A1), _word_addr(A2)], "0x" + _word_int(1000)),
        # 1: weird ERC-20 (2 data words → 5 total) → SKIPPED (:67-75)
        _log(1, [TRANSFER_EVENT_TOPIC, _word_addr(A1), _word_addr(A2)],
             "0x" + _word_int(1) + _word_int(2)),
        # 2: ERC-721 with value word in data
        _log(2, [TRANSFER_EVENT_TOPIC, _word_addr(A1), _word_addr(A2), _word_int(777)],
             "0x" + _word_int(5)),
        # 3: ERC-721 with empty data → value 0
        _log(3, [TRANSFER_EVENT_TOPIC, _word_addr(A1), _word_addr(A2), _word_int(778)], "0x"),
        # 4: ERC-1155 single (id=9, value=4)
        _log(4, [ERC1155_SINGLE_TOPIC, _word_addr(OP), _word_addr(A1), _word_addr(A2)],
             "0x" + _word_int(9) + _word_int(4)),
        # 5: ERC-1155 batch ids=[1,2], values=[10,20]
        _log(5, [ERC1155_BATCH_TOPIC, _word_addr(OP), _word_addr(A1), _word_addr(A2)],
             "0x" + _word_int(0x40) + _word_int(0xA0)
             + _word_int(2) + _word_int(1) + _word_int(2)
             + _word_int(2) + _word_int(10) + _word_int(20)),
        # 6: anonymous log → dropped (:180-186)
        _log(6, [], "0x" + _word_int(5)),
        # 7: unknown topic0 → dropped
        _log(7, ["0x" + "9" * 64, _word_addr(A1), _word_addr(A2)], "0x" + _word_int(5)),
        # 8: ERC-1155 single malformed (1 word) → dropped (:128-135)
        _log(8, [ERC1155_SINGLE_TOPIC, _word_addr(OP), _word_addr(A1), _word_addr(A2)],
             "0x" + _word_int(9)),
        # 9: ERC-1155 batch truncated (declared len > words) → dropped
        _log(9, [ERC1155_BATCH_TOPIC, _word_addr(OP), _word_addr(A1), _word_addr(A2)],
             "0x" + _word_int(0x40) + _word_int(0x80) + _word_int(9)),
        # 10: ERC-1155 batch with a GARBAGE offset word (> 2^64) — must be
        # SKIPPED, not crash the batch: conv(...).cast('long') throws
        # ARITHMETIC_OVERFLOW under Spark 4 ANSI mode without the
        # leading-zeros guard (reference catches DecodingError and skips)
        _log(10, [ERC1155_BATCH_TOPIC, _word_addr(OP), _word_addr(A1), _word_addr(A2)],
             "0x" + "f" * 64 + _word_int(0xA0)
             + _word_int(2) + _word_int(1) + _word_int(2)
             + _word_int(2) + _word_int(10) + _word_int(20)),
        # 11: same poison on the lengths word
        _log(11, [ERC1155_BATCH_TOPIC, _word_addr(OP), _word_addr(A1), _word_addr(A2)],
             "0x" + _word_int(0x40) + _word_int(0xA0)
             + "f" * 64 + _word_int(1) + _word_int(2)
             + _word_int(2) + _word_int(10) + _word_int(20)),
        # 12: MID-RANGE poison — 15 significant hex digits (~2^60-1) passed
        # the old ≤15-digit guard into conv().cast('long'), then
        # (off/32).cast('int') threw CAST_OVERFLOW under ANSI. Must be
        # skipped, not crash the batch.
        _log(12, [ERC1155_BATCH_TOPIC, _word_addr(OP), _word_addr(A1), _word_addr(A2)],
             "0x" + "0" * 49 + "f" * 15 + _word_int(0xA0)
             + _word_int(2) + _word_int(1) + _word_int(2)
             + _word_int(2) + _word_int(10) + _word_int(20)),
        # 13: ERC-721 whose value word is not hex → value 0 (:99-105)
        _log(13, [TRANSFER_EVENT_TOPIC, _word_addr(A1), _word_addr(A2), _word_int(779)],
             "0x" + "z" * 64),
    ]
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    out = sorted(
        ([r["log_index"], r["token_standard"], r["from_address"], r["to_address"],
          r["value"], r["token_id"], r["operator_address"], r["token_address"]]
         for r in extract_token_transfers(df).collect()),
        key=lambda r: (r[0], r[5] or Decimal(0)),
    )
    token = "0x" + "d" * 40  # address lowercased
    assert out == [
        [0, "ERC-20", "0x" + A1, "0x" + A2, Decimal(1000), None, None, token],
        [2, "ERC-721", "0x" + A1, "0x" + A2, Decimal(5), Decimal(777), None, token],
        [3, "ERC-721", "0x" + A1, "0x" + A2, Decimal(0), Decimal(778), None, token],
        [4, "ERC-1155", "0x" + A1, "0x" + A2, Decimal(4), Decimal(9), "0x" + OP, token],
        [5, "ERC-1155", "0x" + A1, "0x" + A2, Decimal(10), Decimal(1), "0x" + OP, token],
        [5, "ERC-1155", "0x" + A1, "0x" + A2, Decimal(20), Decimal(2), "0x" + OP, token],
        [13, "ERC-721", "0x" + A1, "0x" + A2, Decimal(0), Decimal(779), None, token],
    ]


def test_single_pass_plan_one_scan(spark):
    """The decode must scan its input exactly once (no per-standard union
    rescans) — assert on the physical plan."""
    df = spark.createDataFrame(
        [_log(0, [TRANSFER_EVENT_TOPIC, _word_addr(A1), _word_addr(A2)], "0x" + _word_int(1))],
        LOG_SCHEMA,
    )
    plan = extract_token_transfers(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ExistingRDD") + plan.count("LocalTableScan") <= 1
    assert "Union" not in plan
