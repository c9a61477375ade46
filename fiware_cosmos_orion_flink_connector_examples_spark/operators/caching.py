"""Cache-lifetime discipline helpers (VERDICT r6 #5 / r7 #6).

Several operators persist an intermediate that both a driver-side size
probe and the final plan consume (unigram vocab frequencies, dedup
pair sets, capstone bases).  Returning the LAZY result frame means the
operator cannot unpersist before the caller materializes it — so those
caches historically stayed session-lived, and a library consumer
running many queries in one session saw late-query memory inflation
(SCALING.md "one-session smoke pack").

``eagerly`` is the materialize-then-release pattern: localCheckpoint
the (small) result — one eager job that pins the COMPUTED rows and
truncates lineage — then immediately unpersist the upstream caches the
plan no longer needs.  Use it when the result is orders of magnitude
smaller than the cached intermediate (aggregates, pair matrices,
report frames); a checkpoint of a corpus-scale frame would just move
the memory problem.

On a real cluster with executor preemption, ``localCheckpoint`` blocks
are executor-local and non-replicated; the reliable variant is
``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` — same
shape, durable storage.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame


class _ModelLRU:
    """Bounded driver-side module memo: hits refresh recency, inserts
    past ``cap`` evict the least recently used (count, not bytes)."""

    def __init__(self, cap: int = 32):
        self.cap = cap
        self._d: "OrderedDict[tuple, object]" = OrderedDict()

    def get(self, key):
        hit = self._d.get(key)
        if hit is not None:
            self._d.move_to_end(key)
        return hit

    def __setitem__(self, key, value):
        self._d[key] = value
        self._d.move_to_end(key)
        while len(self._d) > self.cap:
            self._d.popitem(last=False)

    def __len__(self):
        return len(self._d)


def eagerly(df: DataFrame, *caches: DataFrame) -> DataFrame:
    """Materialize ``df`` via eager localCheckpoint, then unpersist
    every frame in ``caches``.  Returns the checkpointed frame —
    downstream actions re-read materialized rows, never the (now
    uncached) upstream plan."""
    out = df.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out
