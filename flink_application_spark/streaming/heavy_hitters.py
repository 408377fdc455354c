"""Streaming heavy-hitters: approximate top talkers over an unbounded
key stream in bounded state.

The batch count-min query (`vocab_count_min_estimate`) shows the
sketch; the streaming form the reference's domain actually wants
(top talkers over CDR/event streams) needs the sketch maintained
incrementally. Count-min is ADDITIVE — the sketch of a union is the
cell-wise sum of per-batch sketches — so each micro-batch commits its
own d×w partial grid (tiny: d·w cells regardless of batch size) plus
its exact top-M keys as heavy-hitter candidates:

- **cells/**: per-batch (row, bucket, c) partials; the global sketch
  is `sum(c) group by (row, bucket)` at read time — O(d·w) rows total
  per batch, O(d·w) aggregated, forever bounded.
- **candidates/**: each batch's exact top-M keys. A key with a large
  global count is large in at least one batch it appears in (pigeonhole
  over batches), so batch-top-M union is the standard candidate
  recall heuristic (SpaceSaving-style); estimates then come from the
  merged sketch, which NEVER undercounts (CMS ≥ true, test-pinned).

Crash safety: both stores commit through
`sinks.idempotent_batch_write` (per-batch overwrite) — replays
rewrite, never double-count, which is exactly the property an
ADDITIVE sketch cannot survive without. Reads merge only committed
batches (`sinks.read_committed`).

Deterministic md5 bucketing (shared with the batch oracle family), so
estimates are reproducible across runs and engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)

_D = 4    # hash rows
_W = 256  # buckets per row


def _bucket(row: F.Column, key: F.Column, w: int) -> F.Column:
    """Deterministic cell for (hash-row, key): md5('row|key') hex → int."""
    salted = F.concat(row.cast("string"), F.lit("|"), key)
    return F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("bigint") % w


class HeavyHitters(BatchStore):
    def __init__(
        self,
        state_dir: str,
        *,
        key_col: str,
        d: int = _D,
        w: int = _W,
        candidates_per_batch: int = 32,
    ) -> None:
        self.key_col = key_col
        self.d = d
        self.w = w
        self.m = candidates_per_batch
        self._cells_dir = os.path.join(state_dir, "cells")
        self._cands_dir = os.path.join(state_dir, "candidates")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        key = F.col(self.key_col)
        occ = batch_df.select(key.cast("string").alias("key"))

        rows = F.explode(F.array(*[F.lit(i) for i in range(self.d)])).alias("row")
        cells = (
            occ.select("key", rows)
            .select("row", _bucket(F.col("row"), F.col("key"), self.w).alias("bucket"))
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        cands = (
            occ.groupBy("key")
            .agg(F.count(F.lit(1)).alias("batch_n"))
            .orderBy(F.desc("batch_n"), F.asc("key"))
            .limit(self.m)
        )
        idempotent_batch_write(cells, self._cells_dir, batch_id)
        idempotent_batch_write(cands, self._cands_dir, batch_id)

    # -- read side -----------------------------------------------------

    def sketch(self, spark) -> DataFrame:
        """Merged global sketch: cell-wise sum of the per-batch partials."""
        return (
            read_committed(spark, self._cells_dir, "row int, bucket bigint, c bigint")
            .groupBy("row", "bucket")
            .agg(F.sum("c").alias("c"))
        )

    def topk(self, spark, k: int = 10) -> DataFrame:
        """(key, estimate) for the top-k candidates by CMS estimate.
        estimate >= true count always (CMS one-sided error)."""
        cands = (
            read_committed(spark, self._cands_dir, "key string, batch_n bigint")
            .select("key")
            .distinct()
        )
        rows = F.explode(F.array(*[F.lit(i) for i in range(self.d)])).alias("row")
        probes = cands.select("key", rows).select(
            "key",
            "row",
            _bucket(F.col("row"), F.col("key"), self.w).alias("bucket"),
        )
        return (
            probes.join(F.broadcast(self.sketch(spark)), ["row", "bucket"])
            .groupBy("key")
            .agg(F.min("c").alias("estimate"))
            .orderBy(F.desc("estimate"), F.asc("key"))
            .limit(k)
        )
