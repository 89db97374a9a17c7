"""SparkSession factory tuned for the CDC/ingest workload.

Scale notes (100 TB / 1000-executor design intent, tested on local[32]):
- AQE on: runtime coalesce of shuffle partitions, skew-join splitting for the
  hot-contract skew the reference caps by hand
  (/root/reference/ethereumetl/jobs/enrich_dex_trades_job.py:429-430).
- Arrow on: every Python-side decode is an Arrow-batched pandas UDF, never
  per-row Python (BASELINE.json input_hint).
- shuffle.partitions defaults to cores locally; on a real cluster set it to
  2-3x total cores or rely on AQE coalesce from a high initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated-class cache (spark.sql.codegen.cache.maxEntries, a static conf)
# sized to the engine's working set. A tail cycle re-plans the same
# per-entity DAG over a new range, and the 4-table tail alone compiles ~110
# distinct classes before its first steady cycle: at the default 100
# entries the cache evicted what the next cycle needed, and each cycle ran
# 63-92 Janino compiles, 91-95 % of them byte-identical to a class compiled
# in an earlier cycle. 2048 covers the full 23-table plan plus the harness
# queries.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "spark-chain-cdc",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # default 2x cores in local mode: one task-wave per stage cannot
        # overlap the engine's concurrent per-entity merge jobs; two waves
        # can (measured 2x on the whole-WAL replay at local[32] — see
        # scripts/bench_scaling.py). On a real cluster leave ~2-3x total
        # executor cores (or rely on AQE advisory sizes).
        n = cpus if master.startswith("local[") else "200"
        try:
            cores = int(master[6:-1]) if master[6:-1].isdigit() else int(n)
            shuffle_partitions = 2 * cores if master.startswith("local[") else cores
        except ValueError:
            shuffle_partitions = 64

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # CPU-heavy rows (JSON decode, Arrow UDFs, tree flattens): 16 MB
        # splits / advisory shuffle partitions keep every core busy — the
        # 128 MB defaults are tuned for I/O-bound scans and leave a 32-core
        # node running 3-task stages (measured: scaling efficiency 0.39 →
        # with these, decode stages fan out to all cores)
        .config("spark.sql.files.maxPartitionBytes", "16777216")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16777216")
        # respect the advisory size when coalescing instead of fanning every
        # small shuffle out to default parallelism ("parallelismFirst" is a
        # latency-over-efficiency default): the replay runs ~17 concurrent
        # per-entity merges whose exchanges are each a few MB — targeting 32
        # partitions per stage produced ~38k tasks/replay of ~50 KB output
        # files each (event-log profile, r6); size-first coalescing cuts
        # per-stage task counts and output file counts with no loss of
        # parallelism at scale (big exchanges still split by the 16 MB
        # advisory; concurrent merges fill the cores)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # decode(unhex(...), 'UTF-8') on malformed bytes THROWS under Spark 4
        # defaults — one garbage dynamic-string ABI param would poison a
        # whole batch. REPLACE semantics (U+FFFD) keep the row; documented
        # divergence from the reference, which skips the entire log row.
        .config("spark.sql.legacy.codingErrorAction", "true")
        # concurrent per-entity MERGE jobs: FAIR scheduling keeps small
        # stages from queueing behind large ones (event-log profiling showed
        # 3s stalls on near-empty stages under FIFO)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # local-mode shuffle spill dir: tmpfs when available — one shared
        # spinning /tmp is a fixed-bandwidth serial resource that flattens
        # core scaling (on a real cluster this is per-executor NVMe)
        .config("spark.local.dir", _local_dirs())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # v1 commitJob renames EVERY task file serially on the driver —
        # with ~17 concurrent per-entity MERGE writes × O(100) salted files
        # each per cycle, that driver-side rename loop is pure per-batch
        # serial cost. v2 renames in the tasks; job commit becomes O(1).
        # (Single-writer snapshot tables: a failed write never commits a
        # manifest, so v2's weaker failure atomicity is not load-bearing.)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def _local_dirs() -> str:
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return "/tmp"


def _ship_package(spark: SparkSession) -> None:
    """Ship ethereum_etl_spark to executor Python workers (the local-mode
    equivalent of `spark-submit --py-files pkg.zip`, BASELINE.md launch
    mode). Without this, mapInPandas/pandas_udf closures that reference
    module-level helpers fail on workers whose cwd isn't the repo root."""
    import zipfile

    import ethereum_etl_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    zip_path = os.path.join(
        "/tmp", f"ethereum_etl_spark_{abs(hash(pkg_dir)) % 10**8}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            "ethereum_etl_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — already added in this context
        pass
