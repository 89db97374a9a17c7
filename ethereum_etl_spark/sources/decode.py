"""Change-event payload decode: JSON envelope → typed entity DataFrames.

The mapper layer of the reference (/root/reference/ethereumetl/mappers/
block_mapper.py:38-78, transaction_mapper.py:32-56, receipt_log_mapper.py)
re-expressed as one vectorized ``from_json`` + column casts: camelCase→
snake_case is already normalized in the WAL payloads; hex→numeric runs
JVM-side: ``conv`` for <2^63 fields, and the staged ``hex_to_dec38``
arithmetic (functions/hex.py) for Decimal(38,0) fields. No per-row Python
anywhere on this path.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, StringType, StructField, StructType

from ethereum_etl_spark.functions.hex import (
    hex_digits,
    hex_magnitude,
    hex_signed,
    to_normalized_address,
)
from ethereum_etl_spark.schemas import ENTITY_SCHEMAS

_ADDRESS_COLS = {
    "miner",
    "from_address",
    "to_address",
    "address",
    "contract_address",
    "token_address",
    "holder_address",
    "operator_address",
}


def raw_json_schema(entity_type: str, extra_fields=None) -> StructType:
    """Entity schema with uint256 columns widened to string (hex-in-flight).

    ``extra_fields``: additively-evolved columns (e.g. withdrawals/blob
    fields appearing in late payloads, SURVEY §1.3) — appended so from_json
    surfaces them; early payloads simply yield NULL.
    """
    fields = []
    for f in list(ENTITY_SCHEMAS[entity_type].fields) + list(extra_fields or []):
        if isinstance(f.dataType, DecimalType):
            fields.append(StructField(f.name, StringType(), True))
        else:
            fields.append(StructField(f.name, f.dataType, True))
    return StructType(fields)


# entities whose `value` column is a true uint256 that can exceed
# Decimal(38,0) — these get the lossless hex sidecar when enabled
_SIDECAR_VALUE_ENTITIES = {"transaction", "token_transfer", "internal_transfer"}


class EntityDecoder:
    """One entity's WAL decode, its column expressions built once.

    Building the decode is driver work: ~20 casts per entity, each node a
    py4j round trip. A tail cycle decodes the same entities from a new batch
    every cycle, so a long-lived caller (``ChainStreamer``) builds one
    decoder per entity up front and applies it to each batch. The
    expressions are unresolved column trees; any number of plans may share
    them.

    The plan is: the JSON parse in a ``Generate``
    (``inline(array(from_json(payload)))``), so that a filter over the
    decoded columns (``drop_null_keys``) stays above it and the payload is
    parsed once per row; a projection holding each uint256 column's
    significant hex digits; and the typed projection, which turns those
    digits into the Decimal(38,0) magnitude and applies the sign. The
    magnitude references its digits several times, so Catalyst keeps the
    digits projection apart: the generated code holds each uint256 decode
    once instead of one copy of the digit expression per reference (605 KB
    → 212 KB of Java for the four base entities, regenerated whenever a
    cycle plans a decode).

    Arguments are those of :func:`decode_entity`.
    """

    def __init__(
        self,
        entity_type: str,
        ops=("upsert",),
        include_seq: bool = True,
        extra_fields=None,
        uint256_sidecar: bool = False,
    ):
        schema = StructType(
            list(ENTITY_SCHEMAS[entity_type].fields) + list(extra_fields or [])
        )
        self._include_seq = include_seq
        self._where = (F.col("entity_type") == entity_type) & F.col("op").isin(*ops)
        self._parse = F.inline(
            F.array(F.from_json("payload", raw_json_schema(entity_type, extra_fields)))
        )
        self._seq = F.col("seq").alias("_ingest_seq")
        self._seq_ref = F.col("_ingest_seq")
        self._digits = []
        self._typed = []
        for f in schema.fields:
            c = F.col(f.name)
            if isinstance(f.dataType, DecimalType):
                d = "__digits_" + f.name
                self._digits.append(hex_digits(c).alias(d))
                c = hex_signed(c, hex_magnitude(F.col(d)))
            elif f.name in _ADDRESS_COLS:
                c = to_normalized_address(c)
            self._typed.append(c.cast(f.dataType).alias(f.name))
        self._sidecar = None
        if (
            uint256_sidecar
            and entity_type in _SIDECAR_VALUE_ENTITIES
            and "value" in schema.fieldNames()
        ):
            # referencing the DECODED value post-projection keeps the
            # decode single-pass; raw survives only where the decimal lost it
            self._raw_value = F.col("value").alias("__raw_value")
            self._out = [F.col(f.name) for f in schema.fields]
            self._sidecar = F.when(
                F.col("value").isNull() & F.col("__raw_value").isNotNull(),
                F.col("__raw_value"),
            ).alias("value_raw")

    def __call__(self, wal_batch: DataFrame) -> DataFrame:
        with_seq = self._include_seq and "seq" in wal_batch.columns
        seq = [self._seq_ref] if with_seq else []
        df = wal_batch.filter(self._where).select(
            self._parse, *([self._seq] if with_seq else [])
        )
        if self._digits:
            df = df.select("*", *self._digits)
        if self._sidecar is None:
            return df.select(*self._typed, *seq)
        return df.select(*self._typed, *seq, self._raw_value).select(
            *self._out, *seq, self._sidecar
        )


def decode_entity(
    wal_batch: DataFrame,
    entity_type: str,
    ops=("upsert",),
    include_seq: bool = True,
    extra_fields=None,
    uint256_sidecar: bool = False,
) -> DataFrame:
    """Filter one entity stream out of a WAL batch and decode its payload.

    Returns rows typed per ENTITY_SCHEMAS[entity_type]; addresses lowercased
    (utils.py:84-87 parity); hex uint256 → Decimal(38,0) w/ overflow→NULL.
    ``include_seq`` carries the WAL position through as ``_ingest_seq`` (the
    Iceberg _sequence_number analog) so MERGE can order same-key rows that
    arrive in one batch — e.g. an upsert and its reorg replacement.

    ``uint256_sidecar``: adds a lossless ``value_raw`` string column holding
    the ORIGINAL payload string whenever the Decimal(38,0) decode of `value`
    overflowed to NULL — the SURVEY §7 sidecar (the reference's BigQuery
    schema stores value as STRING for the same reason,
    docs/limitations.md:9-12). NULL when the decimal is exact, so the column
    compresses to nothing on healthy data.

    One-off form of :class:`EntityDecoder`; callers decoding many batches
    should build the decoder once and reuse it.
    """
    return EntityDecoder(
        entity_type, ops, include_seq, extra_fields, uint256_sidecar
    )(wal_batch)


@lru_cache(maxsize=None)
def _required_present(entity_type: str) -> Column | None:
    """AND of ``isNotNull`` over the entity's required fields, built once
    per entity type."""
    pred = None
    for f in ENTITY_SCHEMAS[entity_type].fields:
        if not f.nullable:
            c = F.col(f.name).isNotNull()
            pred = c if pred is None else pred & c
    return pred


def drop_null_keys(decoded: DataFrame, entity_type: str) -> DataFrame:
    """Dead-letter guard: unparseable payloads decode to all-null rows
    (Spark 4 PERMISSIVE); drop rows missing any REQUIRED (non-nullable)
    field. The decode parses in a ``Generate``, and Catalyst pushes no
    filter on a generator's output below it, so the guard never copies the
    ``from_json`` parse into the filter (pinned on the executed plan in
    test_cycle_fixed_cost)."""
    pred = _required_present(entity_type)
    return decoded if pred is None else decoded.filter(pred)
