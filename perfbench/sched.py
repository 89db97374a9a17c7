"""Open-loop WAL arrival: blocks become visible on a wall-clock schedule.

The WAL is generated up front; ``ScheduledTailer`` exposes its tail
segment one block per slot. Arrival is a pure function of the clock, so a
slow engine never slows the schedule down. The head is still a real Spark
query over the WAL, restricted to the rows already due.
"""

from __future__ import annotations

import math
import time

from pyspark.sql import functions as F

from ethereum_etl_spark.sources.wal import WalTailer

SEQ_PER_BLOCK = 16  # the WAL envelope's seq = block * 16 + intra


class ArrivalSchedule:
    """Block ``first + i`` is due at ``t0 + i / rate``. Blocks before
    ``first`` (the seeded history) are always visible."""

    def __init__(self, first_block: int, last_block: int, rate: float, t0: float):
        self.first = first_block
        self.last = last_block
        self.rate = rate
        self.t0 = t0

    def due(self, block: int) -> float:
        return self.t0 + (block - self.first) / self.rate

    def last_due_block(self, now: float) -> int:
        """Highest block whose slot has started by ``now`` (``first - 1``
        when none has)."""
        if now < self.t0:
            return self.first - 1
        return min(self.last, self.first + math.floor((now - self.t0) * self.rate))

    def cutoff_seq(self, now: float) -> int:
        """Highest seq a reader may see at ``now``."""
        return (self.last_due_block(now) + 1) * SEQ_PER_BLOCK - 1


class ScheduledTailer(WalTailer):
    def __init__(self, wal_df, schedule: ArrivalSchedule, clock=time.time, **kw):
        super().__init__(wal_df, **kw)
        self.schedule = schedule
        self.clock = clock

    def head(self, refresh: bool = False) -> int:
        if refresh or self._head is None:
            cutoff = self.schedule.cutoff_seq(self.clock())
            self._head = (
                self.wal.filter(F.col("seq") <= cutoff).agg(F.max("seq")).first()[0] or 0
            )
        return self._head

    def read_range(self, lo_exclusive: int, hi_inclusive: int):
        hi = min(hi_inclusive, self.schedule.cutoff_seq(self.clock()))
        return super().read_range(lo_exclusive, hi)
