from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from ethereum_etl_spark.functions.hex import (
    hex_to_dec38,
    hex_to_long,
    split_to_words,
    to_normalized_address,
    word_to_address,
)
from ethereum_etl_spark.functions.ids import item_id, item_timestamp
from ethereum_etl_spark.functions.keccak import (
    event_topic,
    function_selector,
    keccak256,
    keccak256_udf,
)


def test_keccak_known_vectors():
    # eth_utils.keccak parity (token_transfer_extractor.py:47-51)
    assert (
        keccak256("") == "0xc5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
    )
    assert (
        event_topic("Transfer(address,address,uint256)")
        == "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
    )
    assert function_selector("balanceOf(address)") == "70a08231"
    # multi-block message (> 136-byte rate)
    assert keccak256("a" * 300) == keccak256(b"a" * 300)


def test_keccak_udf(spark):
    df = spark.createDataFrame([("abc",), (None,)], ["s"])
    rows = df.select(keccak256_udf("s").alias("h")).collect()
    assert rows[0]["h"] == "0x4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
    assert rows[1]["h"] is None


def test_hex_to_long(spark):
    df = spark.createDataFrame(
        [("0x10",), ("0x0",), ("0x",), (None,), ("0xde0b6b3a7640000",)], ["h"]
    )
    vals = [r[0] for r in df.select(hex_to_long(F.col("h"))).collect()]
    assert vals == [16, 0, None, None, 10**18]
    # the long range ends at 2^63 - 1: larger values are NULL instead of
    # raising under ANSI mode; the bound counts significant digits only
    cases = [
        (hex(2**63 - 1), 2**63 - 1),
        (hex(2**63), None),
        (hex(2**64 - 1), None),
        ("0x1" + "0" * 16, None),  # 17 digits
        ("0x" + "0" * 62 + "10", 16),  # zero-padded 64-digit word
        ("0xzz", None),  # not hex
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    vals = [r[0] for r in df.select(hex_to_long(F.col("h"))).collect()]
    assert vals == [v for _, v in cases]


# (input, hex_to_dec38 value) — also the inputs of the staged-decode
# equivalence test below
HEX_TO_DEC38_CASES = [
    ("0xde0b6b3a7640000", Decimal(10**18)),  # 15 hex digits: one conv
    (hex(10**40), None),  # overflows Decimal(38,0) -> NULL
    (None, None),
    ("junk", None),
    # boundaries: 16 significant hex digits are one unsigned conv, 17–32
    # two chunks, 33 or more always overflow (16^32 > 10^38)
    (hex(2**60 - 1), Decimal(2**60 - 1)),
    (hex(2**60), Decimal(2**60)),
    (hex(2**64 - 1), Decimal(2**64 - 1)),
    (hex(2**64), Decimal(2**64)),
    ("0x1" + "0" * 32, None),
    # 64-char ABI word with leading-zero padding → still one conv
    ("0x" + "0" * 61 + "fff", Decimal(0xFFF)),
    ("0x" + "0" * 64, Decimal(0)),
    # decimal string (no 0x): parsed as base-10 (dex parsed_event contract)
    ("123456", Decimal(123456)),
    ("0x", None),
    ("0xzz", None),
    (str(10**38 - 1), Decimal(10**38 - 1)),
    (str(10**38), None),  # decimal-string overflow
    # the conv-chunk arithmetic and the '~0x' two's-complement
    # translate path
    (hex(10**38 - 1), Decimal(10**38 - 1)),  # max representable
    (hex(10**38), None),  # exact overflow boundary
    (hex(2**126), Decimal(2**126)),  # 32 hex digits, fits
    ("0x" + "f" * 32, None),  # 3.4e38 > Decimal(38,0)
    ("0x" + "f" * 64, None),  # uint256 max → overflow NULL
    ("~0x" + "f" * 64, Decimal(-1)),  # int256 -1 (64-char width)
    ("~0x" + "f" * 63 + "e", Decimal(-2)),
    ("~0x" + "8" + "0" * 63, None),  # int256 min → overflow NULL
    ("~0xff", Decimal(-1)),  # narrow width: 255 - 2^8
    ("~0x80", Decimal(-128)),
    ("~0x", None),
    ("-42", Decimal(-42)),  # signed decimal string
    ("0xABCDEF", Decimal(0xABCDEF)),  # uppercase hex digits
    # input contract: no whitespace or '_' inside hex or '_' grouping
    # in decimals; Spark's cast trims whitespace around decimal strings
    ("0x1f ", None),
    (" 0x1f", None),
    ("0x1_f", None),
    ("1_000", None),
    (" 42", Decimal(42)),
    ("42 ", Decimal(42)),
]


def test_hex_to_dec38(spark):
    cases = HEX_TO_DEC38_CASES
    df = spark.createDataFrame([(c[0],) for c in cases], ["h"])
    vals = [r[0] for r in df.select(hex_to_dec38(F.col("h"))).collect()]
    assert vals == [c[1] for c in cases]


def test_word_to_dec38_matches_general(spark):
    """word_to_dec38(w) ≡ hex_to_dec38('0x'||w) for bare ABI words — the
    contract that lets the transfer decode use the specialized form (r6)."""
    from ethereum_etl_spark.functions.hex import word_to_dec38

    words = [
        "0" * 64,
        "0" * 61 + "fff",
        hex(10**38 - 1)[2:].rjust(64, "0"),
        hex(10**38)[2:].rjust(64, "0"),
        "f" * 64,
        "f" * 32,
        hex(2**126)[2:],
        "de0b6b3a7640000",
        "0",
        "",
        "zz",
        "ABCDEF",
        None,
    ]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = [
        (r[0], r[1])
        for r in df.select(
            word_to_dec38(F.col("w")),
            hex_to_dec38(F.concat(F.lit("0x"), F.col("w"))),
        ).collect()
    ]
    for a, b in got:
        assert a == b


# the uint256 columns of the base entities' payloads
_UINT256_FIELDS = {
    "transaction": ("value", "gas_price"),
    "block": ("difficulty", "total_difficulty"),
    "receipt": ("effective_gas_price",),
}


def test_staged_decode_matches_hex_to_dec38(spark):
    """EntityDecoder decodes uint256 columns in stacked projections (digits,
    then magnitude and sign); on every hex_to_dec38 case each such column
    equals the column-level hex_to_dec38, with and without the sidecar."""
    import json

    from ethereum_etl_spark.sources.decode import EntityDecoder

    ddl = (
        "seq long, block_number long, block_hash string, entity_type string,"
        " op string, payload string"
    )
    raw = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(HEX_TO_DEC38_CASES)], "i long, raw string"
    )
    want = [c[1] for c in HEX_TO_DEC38_CASES]
    for entity, fields in _UINT256_FIELDS.items():
        rows = [
            (
                i, i, "0xb", entity, "upsert",
                json.dumps({f: c[0] for f in fields}),
            )
            for i, c in enumerate(HEX_TO_DEC38_CASES)
        ]
        wal = spark.createDataFrame(rows, ddl)
        for sidecar in (False, True):
            out = (
                EntityDecoder(entity, uint256_sidecar=sidecar)(wal)
                .join(raw, F.col("_ingest_seq") == F.col("i"))
                .orderBy("i")
            )
            has_raw = "value_raw" in out.columns
            assert has_raw == (sidecar and entity == "transaction")
            got = out.select(
                "raw", *fields, hex_to_dec38(F.col("raw")).alias("__col"),
                *(["value_raw"] if has_raw else []),
            ).collect()
            assert len(got) == len(want), (entity, sidecar)
            for r, w in zip(got, want):
                assert r["__col"] == w, (entity, r["raw"])
                for f in fields:
                    assert r[f] == r["__col"], (entity, sidecar, f, r["raw"])
                if has_raw:
                    lost = r["value"] is None and r["raw"] is not None
                    assert r["value_raw"] == (r["raw"] if lost else None)


def test_hex_to_double(spark):
    import pytest

    from ethereum_etl_spark.functions.hex import hex_to_double

    sqrtp = 2**96 * 10**9  # a uint160-scale sqrtPriceX96 (~7.9e37…e48 range)
    cases = [
        ("0x10", 16.0),
        ("0x" + "0" * 64, 0.0),
        (hex(sqrtp), float(sqrtp)),
        (hex(2**160 - 1), float(2**160 - 1)),
        ("123456", 123456.0),
        ("-42", -42.0),
        ("~0x" + f"{(-(2**100)) % 2**256:064x}", float(-(2**100))),
        ("junk", None),
        ("0x", None),
        ("0xzz", None),
        (None, None),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], ["h"])
    vals = [r[0] for r in df.select(hex_to_double(F.col("h"))).collect()]
    for got, (_, want) in zip(vals, cases):
        if want is None:
            assert got is None
        else:
            assert got == pytest.approx(want, rel=1e-12)


def test_split_to_words_and_address(spark):
    w1 = "0" * 24 + "a" * 40
    w2 = "0" * 63 + "5"
    df = spark.createDataFrame([("0x" + w1 + w2,), ("0x",)], ["data"])
    out = df.select(split_to_words(F.col("data")).alias("w")).collect()
    assert out[0]["w"] == [w1, w2]
    assert out[1]["w"] == []
    addr = df.select(word_to_address(F.lit(w1.upper())).alias("a")).first()["a"]
    assert addr == "0x" + "a" * 40


def test_normalize_and_ids(spark):
    df = spark.createDataFrame([(1609459200, "0xAB", 3)], ["ts", "h", "i"])
    row = df.select(
        to_normalized_address(F.col("h")).alias("a"),
        item_id("log", "h", "i").alias("iid"),
        item_timestamp(F.col("ts")).alias("its"),
    ).first()
    assert row["a"] == "0xab"
    assert row["iid"] == "log_0xAB_3"
    assert row["its"] == "2021-01-01T00:00:00Z"
