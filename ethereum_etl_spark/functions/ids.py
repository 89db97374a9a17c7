"""Idempotency key (item_id) and RFC3339 item_timestamp stamping.

Mirrors /root/reference/ethereumetl/streaming/eth_item_id_calculator.py:31-73
('{type}_' + key fields joined by '_') and
eth_item_timestamp_calculator.py:28-51 (epoch-seconds → RFC3339 'Z').
Pure column expressions — JVM codegen, no Python.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ethereum_etl_spark.schemas import ITEM_ID_FIELDS


def item_id(entity_type: str, *key_cols: Column | str) -> Column:
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.concat_ws("_", F.lit(entity_type), *[c.cast("string") for c in cols])


def item_timestamp(epoch_seconds: Column) -> Column:
    return F.date_format(
        F.to_timestamp(epoch_seconds), "yyyy-MM-dd'T'HH:mm:ss'Z'"
    )


@lru_cache(maxsize=None)
def _stamp_cols(entity_type: str, ts_col: str | None) -> tuple[Column, Column | None]:
    """(item_id, item_timestamp) expressions, built once per entity: the
    streamer stamps every table every cycle."""
    ts = item_timestamp(F.col(ts_col)) if ts_col else None
    return item_id(entity_type, *ITEM_ID_FIELDS[entity_type]), ts


def stamp(df: DataFrame, entity_type: str, ts_col: str | None = None) -> DataFrame:
    """Add item_id (+ item_timestamp when a timestamp column is present)."""
    id_col, ts = _stamp_cols(entity_type, ts_col)
    cols = {"item_id": id_col}
    if ts is not None and ts_col in df.columns:
        cols["item_timestamp"] = ts
    return df.withColumns(cols)
