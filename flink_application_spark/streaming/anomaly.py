"""Streaming z-score anomaly detection with mergeable moment state.

The batch form (`events_anomaly_zscore`) computes per-type mean/std
over the whole table and flags |x − μ|/σ ≥ k. The streaming form must
score events as they arrive, against the history SEEN SO FAR — without
re-scanning it. The enabling fact: the sufficient statistics
(n, Σx, Σx²) are ADDITIVE per key, so each micro-batch commits its
own per-type partial row and history is a 3-column sum at read time —
state is O(|key space|) per batch, independent of event volume.

Semantics (deliberate, documented): batch N's events are scored
against the moments of batches < N — the online definition (an
anomaly is judged by what was known BEFORE it arrived). The first
batch has no history and flags nothing. Scoring against
history-including-self converges to the batch operator as history
grows (test-pinned tolerance).

Crash safety as everywhere in this package: partials commit through
`sinks.idempotent_batch_write` per-batch overwrite — replays rewrite,
never double-add (the failure an additive statistic cannot survive).
Flagged rows commit the same way, and every read (history included)
goes through `sinks.read_committed`, so a crash partial stays unseen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)

_MOMENTS_SCHEMA = "key string, n bigint, s1 double, s2 double"


def _moments(raw: DataFrame) -> DataFrame:
    """(key, n, mean, std) from summed (n, Σx, Σx²) partials."""
    merged = raw.groupBy("key").agg(
        F.sum("n").alias("n"), F.sum("s1").alias("s1"), F.sum("s2").alias("s2")
    )
    mean = F.col("s1") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0))
    return merged.select("key", "n", mean.alias("mean"), F.sqrt(var).alias("std"))


class StreamingAnomalyDetector(BatchStore):
    def __init__(
        self,
        state_dir: str,
        *,
        key_col: str,
        value_col: str,
        threshold: float = 3.0,
        min_history: int = 30,
    ) -> None:
        self.key_col = key_col
        self.value_col = value_col
        self.threshold = threshold
        self.min_history = min_history  # don't flag on flimsy stats
        self._moments_dir = os.path.join(state_dir, "moments")
        self._flags_dir = os.path.join(state_dir, "flags")

    def history(self, spark) -> DataFrame:
        """Merged per-key moments over all committed batches:
        (key, n, mean, std)."""
        return _moments(read_committed(spark, self._moments_dir, _MOMENTS_SCHEMA))

    def flags(self, spark) -> DataFrame:
        return read_committed(
            spark, self._flags_dir, "key string, value double, zscore double"
        ).select("key", "value", "zscore")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = batch_df.select(
            F.col(self.key_col).cast("string").alias("key"),
            F.col(self.value_col).cast("double").alias("value"),
        ).filter(F.col("value").isNotNull())

        # score against PRIOR history: moments of committed batches
        # < N, so a replay of N scores exactly as its first attempt did
        hist = _moments(
            read_committed(spark, self._moments_dir, _MOMENTS_SCHEMA, before=batch_id)
        )
        flagged = (
            ev.join(F.broadcast(hist), "key")
            .filter(
                (F.col("n") >= self.min_history)
                & (F.col("std") > 0)
                & (F.abs(F.col("value") - F.col("mean")) / F.col("std")
                   >= self.threshold)
            )
            .select(
                "key",
                "value",
                F.round(
                    F.abs(F.col("value") - F.col("mean")) / F.col("std"), 4
                ).alias("zscore"),
            )
        )

        partial = ev.groupBy("key").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s1"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
        )
        idempotent_batch_write(flagged, self._flags_dir, batch_id)
        idempotent_batch_write(partial, self._moments_dir, batch_id)
