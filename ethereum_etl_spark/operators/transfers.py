"""ERC-20/721/1155 token-transfer extraction — the flagship decode (P3).

Behavioral parity with /root/reference/ethereumetl/service/
token_transfer_extractor.py:47-214, re-expressed as PURE COLUMN OPS (no
Python in the hot path at all — topic dispatch, word splitting, address
slicing, and even the ERC-1155 dynamic-array ABI decode are Catalyst
expressions inside whole-stage codegen; only the final uint256→Decimal(38,0)
parse is an Arrow-batched pandas UDF):

- dispatch on (size(topics), lower(topics[0]))  (reference :174-196)
- ERC-20: exactly 4 total words (3 topics + 1 data word) else skip  (:65-90)
- ERC-721: tokenId from topics[3]; value = first data word, 0 when data is
  '0x'/empty/undecodable  (:92-116)
- ERC-1155 TransferSingle: data = (uint256 id, uint256 value); skip row when
  data malformed  (:118-143)
- ERC-1155 TransferBatch: data = ABI (uint256[] ids, uint256[] values) →
  offsets→lengths→slices, one output row per zipped (id, value)  (:145-171)
- anonymous/unknown logs (topics null or <3) silently dropped  (:180-186)

SINGLE-PASS plan shape: one scan of the logs, one `when`-dispatched
transfers-array column, one explode, one shared uint256 decode. (A naive
per-standard union would scan the log table once per standard — 4x the I/O
at 100 TB.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ethereum_etl_spark.functions.hex import (
    split_to_words,
    to_normalized_address,
    word_to_address,
    word_to_dec38,
)

# keccak-derived constants (see functions/keccak.py; values asserted in tests
# against the canonical Ethereum topics)
TRANSFER_EVENT_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
ERC1155_SINGLE_TOPIC = "0xc3d58168c5ae7397731d063d5bbf3d657854427343f4c083240f7aacaa2d0f62"
ERC1155_BATCH_TOPIC = "0x4a39dc06d4c0dbc64b70af90fd698a233a518aa5d07e595d983b8c0526c8f7fb"
ALL_TRANSFER_TOPICS = [TRANSFER_EVENT_TOPIC, ERC1155_SINGLE_TOPIC, ERC1155_BATCH_TOPIC]

_RAW_STRUCT_DDL = (
    "array<struct<std:string,frm_w:string,to_w:string,"
    "value_w:string,token_id_w:string,operator_w:string>>"
)


def _passthrough(df):
    return [F.col("_ingest_seq")] if "_ingest_seq" in df.columns else []


def extract_token_transfers(logs: DataFrame) -> DataFrame:
    """logs(log_index, transaction_hash, block_number, address, data,
    topics) → token_transfers rows per TOKEN_TRANSFER_SCHEMA field set."""

    def t(i):  # 0x-less topic word i
        # direct per-use strip (startswith+substring) instead of the old
        # pre-materialized `t` array of regexp_replace("^0x") topics: only
        # one dispatch branch evaluates per row, so slicing at the use
        # site does 2-3 substrings instead of building (and boxing) a
        # 4-element stripped array per row — and no regex engine (r6,
        # guide §4.1; this is the hottest decode in both q23 and the
        # streaming token_transfers path)
        x = F.get("topics", i)
        return F.when(x.startswith("0x"), F.substring(x, 3, 2_000_000)).otherwise(x)

    def w(i):  # data word i
        return F.get("w", i)

    base = logs.filter(
        F.col("topics").isNotNull()
        & (F.size("topics") >= 3)
        & F.lower(F.get("topics", 0)).isin(ALL_TRANSFER_TOPICS)
    ).select(
        to_normalized_address(F.col("address")).alias("token_address"),
        F.col("transaction_hash"),
        F.col("log_index"),
        F.col("block_number"),
        *_passthrough(logs),
        F.size("topics").alias("n_topics"),
        F.lower(F.get("topics", 0)).alias("topic0"),
        F.col("topics"),
        split_to_words(F.col("data")).alias("w"),
    )

    def raw(std, frm, to, value_w, token_id_w, operator_w):
        """One raw transfer as a struct of hex words (decoded after explode)."""
        return F.struct(
            F.lit(std).alias("std"),
            frm.alias("frm_w"),
            to.alias("to_w"),
            value_w.alias("value_w"),
            token_id_w.alias("token_id_w"),
            operator_w.alias("operator_w"),
        )

    null_w = F.lit(None).cast("string")
    is_erc20 = (
        (F.col("n_topics") == 3)
        & (F.col("topic0") == TRANSFER_EVENT_TOPIC)
        & (F.size("w") == 1)  # weird-event skip rule (:67-75)
    )
    is_erc721 = (F.col("n_topics") == 4) & (F.col("topic0") == TRANSFER_EVENT_TOPIC)
    is_single = (
        (F.col("n_topics") == 4)
        & (F.col("topic0") == ERC1155_SINGLE_TOPIC)
        & (F.size("w") >= 2)
    )
    # ERC-1155 batch: ABI (uint256[], uint256[]) — offsets are bytes from
    # data start; word index = offset/32; at each offset: length, items…
    def w_small(word):
        # offset/length words must be tiny; a malformed big word would make
        # conv(...).cast(...) THROW under Spark 4 ANSI mode and poison the
        # whole batch — require 57 leading zero hex chars (≤ 7 significant
        # digits, max 2^28-1, safe through the /32 and +len int arithmetic
        # below) and yield NULL otherwise so the row falls through batch_ok
        # and is skipped, matching the reference's DecodingError-skip
        # (token_transfer_extractor.py:150-157). A real log's data section
        # is KBs, nowhere near a 2^28-byte offset. Prefix memcmp ≡
        # rlike('^0{57}') without the regex engine (r6).
        return F.when(
            F.substring(word, 1, 57) == "0" * 57, F.conv(word, 16, 10).cast("long")
        )

    off_ids = (w_small(w(0)) / 32).cast("int")
    off_vals = (w_small(w(1)) / 32).cast("int")
    len_ids = w_small(F.get("w", off_ids)).cast("int")
    len_vals = w_small(F.get("w", off_vals)).cast("int")
    n_pairs = F.least(len_ids, len_vals)  # zip() stops at the shorter array
    batch_ok = (
        (F.col("n_topics") == 4)
        & (F.col("topic0") == ERC1155_BATCH_TOPIC)
        & (F.size("w") >= 4)
        & n_pairs.isNotNull()  # malformed-data skip (:150-157)
        & (off_ids + 1 + len_ids <= F.size("w"))
        & (off_vals + 1 + len_vals <= F.size("w"))
    )

    transfers_arr = (
        F.when(is_erc20, F.array(raw("ERC-20", t(1), t(2), w(0), null_w, null_w)))
        .when(
            is_erc721,
            F.array(
                raw(
                    "ERC-721",
                    t(1),
                    t(2),
                    # value = first data word, 0 when data empty (:92-105)
                    F.coalesce(w(0), F.lit("0")),
                    t(3),
                    null_w,
                )
            ),
        )
        .when(is_single, F.array(raw("ERC-1155", t(2), t(3), w(1), w(0), t(1))))
        .when(
            batch_ok,
            F.zip_with(
                F.slice(F.col("w"), off_ids + 2, n_pairs),
                F.slice(F.col("w"), off_vals + 2, n_pairs),
                lambda id_w, val_w: raw("ERC-1155", t(2), t(3), val_w, id_w, t(1)),
            ),
        )
        .otherwise(F.lit(None).cast(_RAW_STRUCT_DDL))
    )

    exploded = base.select(
        "token_address",
        "transaction_hash",
        "log_index",
        "block_number",
        *_passthrough(base),
        F.explode(transfers_arr).alias("x"),
    )

    def u256(word_col):
        # specialized bare-word decode: no '0x' concat round-trip, no
        # sign/decimal-string branches (r6 — see word_to_dec38)
        return word_to_dec38(word_col)

    # ERC-721 value-decode fallback to 0 on garbage data (:99-105); the
    # decode appears once in the tree, so its generated code is not copied
    value = F.coalesce(
        u256(F.col("x.value_w")),
        F.when(F.col("x.std") == "ERC-721", F.lit(0).cast("decimal(38,0)")),
    )

    return exploded.select(
        "token_address",
        F.col("x.std").alias("token_standard"),
        word_to_address(F.col("x.frm_w")).alias("from_address"),
        word_to_address(F.col("x.to_w")).alias("to_address"),
        value.alias("value"),
        "transaction_hash",
        "log_index",
        "block_number",
        u256(F.col("x.token_id_w")).alias("token_id"),
        word_to_address(F.col("x.operator_w")).alias("operator_address"),
        *_passthrough(exploded),
    )
