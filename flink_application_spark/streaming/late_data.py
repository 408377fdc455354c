"""Late-data side output — Flink's ``sideOutputLateData`` re-expressed
for Spark, which natively DROPS watermark-late rows (observable only as
a counter, `tests/test_watermark_accounting.py`). Pipelines that must
not lose data (billing, audit) need the late rows ROUTED, not dropped.

Mechanism: a foreachBatch router with its own replayable event-time
watermark. Each batch's max event time is committed to a per-batch
watermark ledger (same `_batch=<id>` overwrite discipline as every
other store); the watermark APPLIED to batch b is derived from ledger
entries of batches < b only — so a crash-replayed batch recomputes
exactly the watermark it saw the first time, and routing is
deterministic under replay (an "update-then-read" watermark would
reroute rows on replay — the subtle bug this ledger design exists to
avoid). Rows with ts < watermark(b) − allowed_delay go to the late
store, everything else to the main store; nothing is lost:
main ∪ late == input, disjointly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


class LateDataRouter(BatchStore):
    def __init__(
        self, out_dir: str, *, ts_col: str, allowed_delay_seconds: float
    ) -> None:
        self.ts_col = ts_col
        self.delay_us = int(allowed_delay_seconds * 1_000_000)
        self._main = os.path.join(out_dir, "on_time")
        self._late = os.path.join(out_dir, "late")
        self._wm = os.path.join(out_dir, "wm_ledger")

    def _watermark_before(self, spark: SparkSession, batch_id: int) -> int | None:
        """Max event time (epoch µs) over ledger entries of EARLIER
        batches — None before any history exists."""
        row = (
            read_committed(spark, self._wm, "max_ts_us bigint", before=batch_id)
            .agg(F.max("max_ts_us"))
            .collect()[0]
        )
        return None if row[0] is None else int(row[0])

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ts_us = F.unix_micros(F.col(self.ts_col).cast("timestamp"))
        wm = self._watermark_before(spark, batch_id)
        batch_df = batch_df.cache()
        try:
            if wm is None:
                late = batch_df.limit(0)
                on_time = batch_df
            else:
                cutoff = wm - self.delay_us
                # NULL event times satisfy neither comparison — route
                # them explicitly to on_time (a row without a timestamp
                # cannot be "late"), preserving main ∪ late == input
                late = batch_df.filter(ts_us.isNotNull() & (ts_us < cutoff))
                on_time = batch_df.filter(ts_us.isNull() | (ts_us >= cutoff))
            idempotent_batch_write(on_time, self._main, batch_id)
            idempotent_batch_write(late, self._late, batch_id)
            # one-row ledger entry: this batch's max event time
            ledger = batch_df.agg(F.max(ts_us).cast("bigint").alias("max_ts_us"))
            idempotent_batch_write(ledger, self._wm, batch_id)
        finally:
            batch_df.unpersist()

    def on_time(self, spark: SparkSession) -> DataFrame:
        return read_committed(spark, self._main)

    def late(self, spark: SparkSession) -> DataFrame:
        return read_committed(spark, self._late)
