"""spark-submit entry point for the CDC replay (BASELINE launch mode).

Usage (local sandbox):
    spark-submit --py-files /tmp/ethereum_etl_spark_*.zip scripts/run_replay.py \
        --wal /path/to/wal.parquet --warehouse /path/to/wh --batch 20000

On a real cluster the package zip is produced by ``python -m zipfile`` or the
session factory's auto-ship (ethereum_etl_spark.session._ship_package); the
driver resumes from the warehouse's checkpointed watermark automatically.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--wal", required=True, help="parquet path of the change-event WAL")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--batch", type=int, default=100_000, help="WAL seq units per cycle")
    ap.add_argument("--lag", type=int, default=0, help="confirmation depth in seq units")
    ap.add_argument("--partition-size", type=int, default=100_000)
    ap.add_argument("--entities", default=None, help="comma list; default all")
    ap.add_argument("--collect-errors", action="store_true")
    ap.add_argument("--max-cycles", type=int, default=None)
    args = ap.parse_args()

    from ethereum_etl_spark.session import get_spark
    from ethereum_etl_spark.sources.wal import WalTailer
    from ethereum_etl_spark.streaming import DEFAULT_ENTITIES, ChainStreamer, StreamerConfig

    spark = get_spark("chain-cdc-replay")
    cfg = StreamerConfig(
        warehouse=args.warehouse,
        batch_size=args.batch,
        partition_size=args.partition_size,
        entity_types=tuple(args.entities.split(",")) if args.entities else DEFAULT_ENTITIES,
        collect_errors=args.collect_errors,
    )
    s = ChainStreamer(spark, cfg)
    wal = spark.read.parquet(args.wal)
    t0 = time.time()
    wm = s.run(WalTailer(wal, batch_size=args.batch, lag=args.lag), max_cycles=args.max_cycles)
    print(
        json.dumps(
            {
                "final_watermark": wm,
                "elapsed_s": round(time.time() - t0, 2),
                "tables": {k: t.row_count() for k, t in s.tables.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
