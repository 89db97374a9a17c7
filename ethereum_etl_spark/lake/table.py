"""LakeTable — snapshot-committed Parquet table with MERGE upsert/delete.

Semantics re-expressed from the reference warehouse layer:
- ReplacingMergeTree last-write-wins upsert keyed on the natural key
  (/root/reference/db/migrations/schema.sql engines; SURVEY.md §1.4)
  → ``merge_upsert`` = key-partitioned read-modify-write with a
  row_number() window dedup (the canonical CDC dedup, SURVEY §2.6 W4).
- Reorg handling = key-partitioned delete+upsert on (block_number, hash)
  (/root/reference/ethereumetl/streaming/clickhouse_eth_streamer_adapter.py:839-890)
  → ``merge_upsert(delete_keys=...)``.
- `SELECT ... FINAL WHERE NOT is_reorged` storage-first reads
  (clickhouse_eth_streamer_adapter.py:71-96) → ``read`` of the committed
  snapshot (always FINAL — MERGE keeps the table collapsed).
- Additive schema evolution (DESCRIBE-driven projection,
  blockchainetl/jobs/exporters/clickhouse_exporter.py:62-83,204-211)
  → new batch columns widen the table schema; old files read through the
  evolved schema with NULL fill; unknown-to-batch columns become NULL.

Scale design (100 TB intent):
- Data is hive-partitioned on ``pt = floor(prune_col / partition_size)``
  (block ranges / repo buckets). A micro-batch MERGE rewrites ONLY the
  partitions its keys touch — the tail of the chain — never the whole table.
- The manifest keeps per-file (pt, rows, min/max prune_col) so reads prune at
  the file level before Spark even plans the scan, and range predicates are
  additionally pushed into the Parquet scan.
- Commits are atomic manifest swaps (os.replace); every snapshot records the
  batch_id, so replaying a batch after a crash is a no-op (exactly-once on
  top of at-least-once delivery — streamer.py:128-132 ordering).
- Single-writer (the streaming driver), many-reader: readers resolve the
  current manifest once and read an immutable file set.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST_DIR = "_manifests"
VERSION_PTR = "_VERSION"
DATA_DIR = "data"


@dataclass
class DataFile:
    path: str  # relative to table root
    pt: int
    rows: int
    min_prune: Any = None
    max_prune: Any = None

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "pt": self.pt,
            "rows": self.rows,
            "min_prune": self.min_prune,
            "max_prune": self.max_prune,
        }

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(d["path"], d["pt"], d["rows"], d["min_prune"], d["max_prune"])


@dataclass
class Manifest:
    version: int
    schema_json: dict
    key: list[str]
    prune_col: str
    partition_size: int
    files: list[DataFile] = field(default_factory=list)
    batch_ids: list[str] = field(default_factory=list)
    properties: dict = field(default_factory=dict)
    committed_at: float = 0.0

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "schema": self.schema_json,
            "key": self.key,
            "prune_col": self.prune_col,
            "partition_size": self.partition_size,
            "files": [f.to_json() for f in self.files],
            "batch_ids": self.batch_ids,
            "properties": self.properties,
            "committed_at": self.committed_at,
        }

    @staticmethod
    def from_json(d: dict) -> "Manifest":
        m = Manifest(
            version=d["version"],
            schema_json=d["schema"],
            key=d["key"],
            prune_col=d["prune_col"],
            partition_size=d["partition_size"],
            files=[DataFile.from_json(f) for f in d["files"]],
            batch_ids=d.get("batch_ids", []),
            properties=d.get("properties", {}),
        )
        m.committed_at = d.get("committed_at", 0.0)
        return m

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.schema_json)


def _atomic_write(path: str, content: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class LakeTable:
    """One entity table. Single-writer, snapshot-isolated readers."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ---------- lifecycle ----------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: StructType,
        key: list[str],
        prune_col: str,
        partition_size: int = 100_000,
        if_not_exists: bool = False,
    ) -> "LakeTable":
        t = LakeTable(spark, root)
        if os.path.exists(os.path.join(root, VERSION_PTR)):
            if if_not_exists:
                return t
            raise FileExistsError(f"table exists: {root}")
        os.makedirs(os.path.join(root, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, DATA_DIR), exist_ok=True)
        m = Manifest(
            version=0,
            schema_json=schema.jsonValue(),
            key=key,
            prune_col=prune_col,
            partition_size=partition_size,
        )
        t._commit(m)
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, VERSION_PTR))

    def current_version(self) -> int:
        with open(os.path.join(self.root, VERSION_PTR)) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> Manifest:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.root, MANIFEST_DIR, f"v{v:012d}.json")) as f:
            return Manifest.from_json(json.load(f))

    def _commit(self, m: Manifest) -> None:
        m.committed_at = time.time()
        mpath = os.path.join(self.root, MANIFEST_DIR, f"v{m.version:012d}.json")
        _atomic_write(mpath, json.dumps(m.to_json()))
        _atomic_write(os.path.join(self.root, VERSION_PTR), str(m.version))

    # ---------- read ----------

    def read(
        self,
        version: int | None = None,
        prune_min=None,
        prune_max=None,
    ) -> DataFrame:
        """Snapshot read; optional [prune_min, prune_max] range applies
        file-level pruning via manifest stats AND a pushed-down predicate."""
        m = self.manifest(version)
        files = m.files
        if prune_min is not None or prune_max is not None:
            files = [
                f
                for f in files
                if (prune_max is None or f.min_prune is None or f.min_prune <= prune_max)
                and (prune_min is None or f.max_prune is None or f.max_prune >= prune_min)
            ]
        if not files:
            return self.spark.createDataFrame([], m.schema)
        paths = [os.path.join(self.root, f.path) for f in files]
        df = self.spark.read.schema(m.schema).parquet(*paths)
        if prune_min is not None:
            df = df.filter(F.col(m.prune_col) >= F.lit(prune_min))
        if prune_max is not None:
            df = df.filter(F.col(m.prune_col) <= F.lit(prune_max))
        return df

    def row_count(self) -> int:
        return sum(f.rows for f in self.manifest().files)

    # ---------- write ----------

    def _evolve_schema(self, m: Manifest, batch: DataFrame) -> tuple[StructType, DataFrame]:
        """Additive evolution: batch columns not in the table are appended to
        the table schema; table columns missing from the batch become NULL.

        Driver-cost note: the steady-state case (batch already matches the
        table, by far the common one in the CDC loop) short-circuits with NO
        py4j traffic, and the realignment path builds ONE selectExpr call —
        the per-column F.col().cast() construction this replaces cost ~2s of
        GIL-serialized py4j chatter per merge × 17 tables per cycle, the
        single largest slice of the measured per-batch serial cost."""
        table_schema = m.schema
        bfields = batch.schema.fields
        if [(f.name, f.dataType) for f in bfields] == [
            (f.name, f.dataType) for f in table_schema.fields
        ]:
            return table_schema, batch
        table_names = {f.name for f in table_schema.fields}
        new_fields = [f for f in bfields if f.name not in table_names]
        evolved = StructType(list(table_schema.fields) + new_fields)
        bcols = {f.name for f in bfields}
        aligned = batch.selectExpr(
            *[
                f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
                if f.name in bcols
                else f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in evolved.fields
            ]
        )
        return evolved, aligned

    def _collect_stats(self, data_dir_abs: str, prune_col: str) -> list[DataFile]:
        """Freshly-written hive dirs `pt=*/part-*.parquet` → per-file row
        counts + prune-column min/max from Parquet footers. Footers are read
        in a thread pool — pyarrow releases the GIL on IO, and a serial walk
        was a measurable driver-side stall between stages (idle valleys in
        the CPU profile) at high file counts."""
        from concurrent.futures import ThreadPoolExecutor

        targets: list[tuple[str, int]] = []
        for pt_dir in sorted(os.listdir(data_dir_abs)):
            if not pt_dir.startswith("pt="):
                continue
            pt = int(pt_dir.split("=", 1)[1])
            full_pt = os.path.join(data_dir_abs, pt_dir)
            targets.extend(
                (os.path.join(full_pt, fn), pt)
                for fn in sorted(os.listdir(full_pt))
                if fn.endswith(".parquet")
            )

        def read_one(arg: tuple[str, int]) -> DataFile:
            fpath, pt = arg
            pf = pq.ParquetFile(fpath)
            rows = pf.metadata.num_rows
            mn = mx = None
            try:
                idx = pf.schema_arrow.get_field_index(prune_col)
            except KeyError:
                idx = -1
            if idx >= 0:
                for rg in range(pf.metadata.num_row_groups):
                    st = pf.metadata.row_group(rg).column(idx).statistics
                    if st is not None and st.has_min_max:
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
            return DataFile(os.path.relpath(fpath, self.root), pt, rows, mn, mx)

        if not targets:
            return []
        with ThreadPoolExecutor(max_workers=min(16, len(targets))) as ex:
            return list(ex.map(read_one, targets))

    def _write_partitioned(
        self, df: DataFrame, m: Manifest, version: int
    ) -> list[DataFile]:
        """Write df (already aligned to schema) hive-partitioned by pt,
        straight from its own partitions: each task writes one file per
        lake partition its rows fall in. No exchange — a shuffle here cost
        a map job per merge, and the tail's merges are a handful of rows
        that AQE coalesced back into one partition anyway. Callers shape
        the partitioning: a dedup window or join has already shuffled by
        key, a batch decode follows its scan, compaction coalesces.

        Rows are sorted by (pt, key) within each task, so every file holds
        its rows in key order (the reference's ORDER BY sort keys,
        eth_streamer_adapter.py:80-102) and min/max file skipping on the key
        stays tight. pt leads the sort because the planned write requires
        that order; a key-only sort does not satisfy it, and the optimizer
        then replaced it with a pt-only one."""
        out_abs = os.path.join(self.root, DATA_DIR, f"v{version:012d}")
        pt = F.floor(F.col(m.prune_col).cast("double") / m.partition_size).cast("long")
        (
            df.withColumn("pt", F.coalesce(pt, F.lit(-1)))
            .sortWithinPartitions("pt", *m.key)
            .write.partitionBy("pt")
            .mode("overwrite")
            .parquet(out_abs)
        )
        return self._collect_stats(out_abs, m.prune_col)

    def append(self, batch: DataFrame, batch_id: str | None = None) -> int:
        """Append-only fast path (errors/metrics tables — MergeTree analog,
        schema.sql:754-766). No read-back, no dedup."""
        m = self.manifest()
        if batch_id is not None and batch_id in m.batch_ids:
            return m.version
        evolved, aligned = self._evolve_schema(m, batch)
        new_version = m.version + 1
        m.schema_json = evolved.jsonValue()
        new_files = self._write_partitioned(aligned, m, new_version)
        m.files = m.files + new_files
        m.version = new_version
        if batch_id is not None:
            m.batch_ids = (m.batch_ids + [batch_id])[-1000:]
        self._commit(m)
        return new_version

    def merge_upsert(
        self,
        batch: DataFrame,
        batch_id: str | None = None,
        version_col: str | None = None,
        delete_keys: DataFrame | None = None,
        delete_key_cols: list[str] | None = None,
        touched_range: tuple[int, int] | None = None,
        extra_touched_values: list[int] | None = None,
        skip_batch_dedup: bool = False,
    ) -> int:
        """MERGE INTO semantics, last-write-wins on the natural key.

        - Rows in ``batch`` upsert by ``self.key`` (newest wins; within the
          incoming batch, highest ``version_col`` wins when given).
        - ``delete_keys`` (with ``delete_key_cols``) removes matching rows
          first — the reorg delete+re-insert path
          (clickhouse_eth_streamer_adapter.py:839-890).
        - Only partitions overlapping the batch/delete keys are rewritten.
        - Idempotent per ``batch_id``: replay of a committed batch is a no-op.
        - ``touched_range=(lo, hi)`` (inclusive, in prune-column units) and
          ``extra_touched_values`` let the caller declare the key span of the
          batch up front, skipping the distinct-scan job the table would
          otherwise need to discover which partitions to rewrite — the
          streamer knows its block range for free from the WAL envelope.
        """
        m = self.manifest()
        if batch_id is not None and batch_id in m.batch_ids:
            return m.version

        evolved, aligned = self._evolve_schema(m, batch)
        aligned = aligned.withColumn("__precedence", F.lit(1))

        # --- which partitions does this batch touch?
        pt_expr = F.floor(
            F.col(m.prune_col).cast("double") / m.partition_size
        ).cast("long")
        if touched_range is not None:
            lo_pt = touched_range[0] // m.partition_size
            hi_pt = touched_range[1] // m.partition_size
            touched = set(range(lo_pt, hi_pt + 1))
            for v in extra_touched_values or []:
                touched.add(v // m.partition_size)
            batch_min_prune = touched_range[0]
        else:
            agg = aligned.agg(
                F.collect_set(F.coalesce(pt_expr, F.lit(-1))).alias("pts"),
                F.min(F.col(m.prune_col)).alias("mn"),
            ).first()
            touched = set(agg["pts"])
            batch_min_prune = agg["mn"]
            if delete_keys is not None and m.prune_col in delete_keys.columns:
                touched |= {
                    r[0]
                    for r in delete_keys.select(F.coalesce(pt_expr, F.lit(-1)))
                    .distinct()
                    .collect()
                }

        affected = [f for f in m.files if f.pt in touched]
        kept = [f for f in m.files if f.pt not in touched]

        # --- append-only fast path (the chain-tail case) ---------------------
        # A micro-batch of NEW tail blocks rewrites the same tail partition
        # over and over under copy-on-write: cost per event ∝ partition_size /
        # batch_size — the 10^10-event scale killer. When the natural key
        # CONTAINS the prune column (blocks/txs/logs/transfers/balances — the
        # ReplacingMergeTree ORDER BYs all lead with block_number) and every
        # already-stored row in the touched partitions sits strictly below
        # the batch's key range (file-footer max_prune < batch min), no
        # stored key can collide with a batch key: skip the read-modify-write
        # entirely, dedup within the batch, and append the new files next to
        # the old ones. All appended file sets cover disjoint prune ranges,
        # so reads never need cross-file dedup; _maybe_compact() folds small
        # files back together so file counts stay O(log) per partition.
        can_append = (
            delete_keys is None
            # extra_touched_values may reference prune values BELOW
            # touched_range[0] (reorg repair pointing at old blocks) — the
            # batch-min the fast path trusts would then be a lie and an
            # append could place duplicate natural keys next to stored rows.
            # Today every such caller also passes delete_keys, but that is an
            # implicit invariant; enforce it here instead of relying on it.
            and not extra_touched_values
            and m.prune_col in m.key
            and batch_min_prune is not None
            and -1 not in touched
            and all(
                f.max_prune is not None and f.max_prune < batch_min_prune
                for f in affected
            )
        )
        if can_append:
            if skip_batch_dedup:
                # caller guarantees the batch carries at most one row per
                # natural key (e.g. a reorg-free block range decoded from a
                # seq-unique WAL) — drop the row_number window and its
                # key-partitioned shuffle: the merge then runs without an
                # exchange, writing from the batch's own partitions
                merged = aligned.drop("__precedence")
            else:
                order = [F.col("__precedence").desc()]
                if version_col is not None:
                    order.append(F.col(version_col).desc_nulls_last())
                w = Window.partitionBy(*m.key).orderBy(*order)
                merged = (
                    aligned.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn", "__precedence")
                )
            new_version = m.version + 1
            m.schema_json = evolved.jsonValue()
            new_files = self._write_partitioned(merged, m, new_version)
            m.files = m.files + new_files
            m.version = new_version
            if batch_id is not None:
                m.batch_ids = (m.batch_ids + [batch_id])[-1000:]
            self._commit(m)
            self._maybe_compact(touched)
            return self.current_version()

        if affected:
            old = self.spark.read.schema(evolved).parquet(
                *[os.path.join(self.root, f.path) for f in affected]
            )
            old = old.withColumn("__precedence", F.lit(0))
            if delete_keys is not None:
                dkc = delete_key_cols or m.key
                dk = F.broadcast(
                    delete_keys.select(
                        *[F.col(c).alias(f"__dk_{c}") for c in dkc]
                    ).distinct()
                )
                # null-safe equality: delete keys may legitimately carry NULL
                # components (e.g. token_id for ERC-20 balance keys) and a
                # plain equi-join would silently never match them
                cond = None
                for c in dkc:
                    eq = F.col(c).eqNullSafe(F.col(f"__dk_{c}"))
                    cond = eq if cond is None else (cond & eq)
                old = old.join(dk, on=cond, how="left_anti")
            combined = old.unionByName(aligned)
        else:
            combined = aligned

        order = [F.col("__precedence").desc()]
        if version_col is not None:
            order.append(F.col(version_col).desc_nulls_last())
        w = Window.partitionBy(*m.key).orderBy(*order)
        merged = (
            combined.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__precedence")
        )

        new_version = m.version + 1
        m.schema_json = evolved.jsonValue()
        new_files = self._write_partitioned(merged, m, new_version)
        old_dirs = {
            os.path.dirname(os.path.dirname(os.path.join(self.root, f.path)))
            for f in affected
        }
        m.files = kept + new_files
        m.version = new_version
        if batch_id is not None:
            m.batch_ids = (m.batch_ids + [batch_id])[-1000:]
        self._commit(m)
        self._gc(old_dirs)
        return new_version

    COMPACT_FILE_THRESHOLD = 12

    def _maybe_compact(self, pts: set[int]) -> None:
        """Size-tiered compaction for append-mode partitions: when a
        partition accumulates more than COMPACT_FILE_THRESHOLD files, fold
        the small tail files into one, LEAVING any dominant file (bigger
        than all the rest combined) alone. Each row is therefore rewritten
        O(log(partition_rows / batch_rows)) times instead of once per batch
        (pure copy-on-write) or never (unbounded file counts). Appended file
        sets cover disjoint key ranges, so compaction is a concatenation —
        no dedup window needed. The victims are coalesced to as many tasks
        as partitions are compacted (one, at the chain tail): the scan
        alone spreads small files over the cores, and the write leaves a
        file per task and partition."""
        m = self.manifest()
        by_pt: dict[int, list[DataFile]] = {}
        for f in m.files:
            if f.pt in pts:
                by_pt.setdefault(f.pt, []).append(f)
        plan: list[tuple[int, list[DataFile]]] = []
        for pt, files in by_pt.items():
            if len(files) <= self.COMPACT_FILE_THRESHOLD:
                continue
            files = sorted(files, key=lambda f: -f.rows)
            rest = files[1:] if files[0].rows > sum(f.rows for f in files[1:]) else files
            if len(rest) >= 2:
                plan.append((pt, rest))
        if not plan:
            return
        victims = [f for _, fs in plan for f in fs]
        df = self.spark.read.schema(m.schema).parquet(
            *[os.path.join(self.root, f.path) for f in victims]
        )
        new_version = m.version + 1
        new_files = self._write_partitioned(df.coalesce(len(plan)), m, new_version)
        dead = {f.path for f in victims}
        old_dirs = {
            os.path.dirname(os.path.dirname(os.path.join(self.root, f.path)))
            for f in victims
        }
        m.files = [f for f in m.files if f.path not in dead] + new_files
        m.version = new_version
        self._commit(m)
        self._gc(old_dirs)
        # dirs still partly referenced survive _gc; drop the dead files
        # inside them so disk usage tracks the manifest
        live = {f.path for f in self.manifest().files}
        for p in dead:
            if p not in live:
                try:
                    os.remove(os.path.join(self.root, p))
                except OSError:
                    pass

    def _gc(self, candidate_dirs: set[str]) -> None:
        """Remove data version dirs no longer referenced by the current
        manifest (no time-travel retention in the sandbox; a real deployment
        would keep N snapshots, like Iceberg expire_snapshots)."""
        live = {
            os.path.dirname(os.path.dirname(os.path.join(self.root, f.path)))
            for f in self.manifest().files
        }
        for d in candidate_dirs:
            if d not in live and os.path.isdir(d) and DATA_DIR in d:
                shutil.rmtree(d, ignore_errors=True)
