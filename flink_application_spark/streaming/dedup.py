"""Streaming session-window arg-max dedup (SURVEY §2.4 W1/W2).

Reference: keyBy(unique_cdr_id) → ProcessingTimeSessionWindows
.withGap(1000 ms) → MaxStartTimeAggregate (EnrichmentApp.java:142-156,
376-403): per CDR id, once the key is quiet for 1 s, emit the single
row with the max dimension start_time.

Spark-first mapping: `F.session_window(ts, gap)` + `F.max_by(struct)`.
The aggregate is incremental (partial + final merge, exactly like the
reference UDAF's add/merge at :384-402) and runs in the streaming
state store. Event-time + watermark replaces Flink's processing-time
trigger — deterministic and replayable, which proc-time windows are
not (SURVEY §7.4 hard-part #1). Spark's own
`dropDuplicatesWithinWatermark` is the bounded-state alternative when
only row identity (not arg-max) matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def session_argmax_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_col: str | Column,
    ts_col: str = "proc_time",
    gap: str = "1 second",
    watermark_delay: str = "2 seconds",
) -> DataFrame:
    """Per (session window, key), keep the row maximizing `order_col`.

    Works on streaming *and* batch DataFrames (`session_window` is
    supported in both since Spark 3.2); the batch form is the oracle
    for the stream form in tests.
    """
    payload = [c for c in df.columns]
    is_streaming = df.isStreaming
    if is_streaming:
        df = df.withWatermark(ts_col, watermark_delay)
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *key_cols)
        .agg(F.max_by(F.struct(*payload), order).alias("_best"))
        .select("_best.*")
    )
