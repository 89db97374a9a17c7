"""In-memory span recorder for the traced run.

Wraps public methods of the engine's classes from the outside (the engine
is never edited): each call records a span with its name, start, end,
parent (the cycle or pass being measured) and thread. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.parent: str | None = None  # set by the workload loop
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()

    def record(self, name: str, t0: float, t1: float, **attrs) -> None:
        span = {
            "name": name,
            "start": t0,
            "end": t1,
            "parent": self.parent,
            "thread": threading.current_thread().name,
            **attrs,
        }
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, method: str, span: str, before=None, after=None) -> None:
        """Replace ``owner.method`` with a timing wrapper. ``before(self,
        *args)`` may return state that ``after(self, state, result, *args)``
        turns into extra span attributes; their own cost is counted as
        tracing bookkeeping."""
        orig = getattr(owner, method)
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            b0 = time.time()
            state = before(obj, *args, **kwargs) if before else None
            t0 = time.time()
            res = None
            try:
                res = orig(obj, *args, **kwargs)
                return res
            finally:
                t1 = time.time()
                attrs = after(obj, state, res, *args, **kwargs) if after else {}
                tracer.record(span, t0, t1, **(attrs or {}))
                with tracer._lock:  # merges run on many threads
                    tracer.bookkeeping_s += (t0 - b0) + (time.time() - t1)

        setattr(owner, method, wrapper)

    def named(self, name: str, lo: float | None = None, hi: float | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name
            and (lo is None or s["start"] >= lo)
            and (hi is None or s["start"] <= hi)
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def lake_file_bytes(table, manifest) -> dict[str, int]:
    """Live data file → size in bytes, from a LakeTable manifest."""
    out = {}
    for f in manifest.files:
        p = os.path.join(table.root, f.path)
        try:
            out[f.path] = os.path.getsize(p)
        except OSError:
            out[f.path] = 0
    return out


def install_engine_wrappers(tracer: Tracer, tailer_cls) -> None:
    """Wrap the engine's public calls named in the benchmark doc.
    ``tailer_cls`` is the WalTailer (sub)class the workload drives."""
    from ethereum_etl_spark.lake.checkpoint import WatermarkStore
    from ethereum_etl_spark.lake.table import LakeTable
    from ethereum_etl_spark.streaming import ChainStreamer

    tracer.wrap(ChainStreamer, "sync_cycle", "streaming.sync_cycle")
    tracer.wrap(tailer_cls, "head", "sources.head")
    tracer.wrap(tailer_cls, "compute_target", "sources.compute_target")
    tracer.wrap(
        tailer_cls, "read_range", "sources.read_range",
        after=lambda _t, _s, _r, lo, hi: {"lo": lo, "hi": hi},
    )
    tracer.wrap(WatermarkStore, "set", "lake.watermark_set")
    tracer.wrap(WatermarkStore, "set_intent", "lake.watermark_set_intent")
    tracer.wrap(LakeTable, "read", "lake.read")

    def before_merge(t, *_a, **_k):
        m = t.manifest()
        return m.version, lake_file_bytes(t, m)

    def after_merge(t, state, _res, *_a, **_k):
        v0, files0 = state
        m = t.manifest()
        files1 = lake_file_bytes(t, m)
        return {
            "table": os.path.basename(t.root.rstrip("/")),
            "committed": m.version != v0,
            "removed_files": len(set(files0) - set(files1)),
            "bytes_written": sum(b for p, b in files1.items() if p not in files0),
        }

    tracer.wrap(LakeTable, "merge_upsert", "lake.merge_upsert", before_merge, after_merge)
