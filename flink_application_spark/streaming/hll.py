"""Streaming distinct-count sketch store: per-micro-batch HLL sketches
(Apache DataSketches, Spark's ``hll_sketch_agg``) committed to a
mergeable state table; any later rollup unions kilobyte sketches
instead of replaying the stream.

This is the streaming twin of `plans/sketch_queries.py` and the same
store discipline as the count-min heavy-hitters: HLL union is
register-wise max — merge-idempotent and order-insensitive — but a
REPLAYED batch appended twice would still be wrong if rows were
appended blindly, so each batch overwrites its own ``_batch=<id>/``
partition via `sinks.idempotent_batch_write` (crash anywhere, replay,
converge).

Read side: ``estimates()`` unions all batch sketches per group —
estimate-identical to sketching the union directly (Spark's own
distributed ``hll_sketch_agg`` is partial-sketch merge internally;
equality is pinned in tests/test_streaming_hll.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


class StreamingDistinctSketch(BatchStore):
    """Maintains per-group HLL sketches of `item_col` over a stream.

    State per batch: one row per observed group — (group_cols...,
    sketch binary, n_rows) — kilobytes regardless of batch size."""

    def __init__(
        self,
        state_dir: str,
        *,
        group_cols: tuple[str, ...],
        item_col: str,
        group_types: dict[str, str] | None = None,
    ) -> None:
        if not group_cols:
            raise ValueError("need at least one group column")
        self.group_cols = list(group_cols)
        self.item_col = item_col
        # DDL types for the empty-store merged()/estimates() frames; non-string
        # keys (numeric ids) should declare theirs so the empty and
        # populated paths return identical dtypes (round-2 advice).
        # Once any batch is committed, the real parquet schema wins.
        self.group_types = dict(group_types or {})
        self._dir = os.path.join(state_dir, "sketches")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        sk = (
            batch_df.groupBy(*self.group_cols)
            .agg(
                F.hll_sketch_agg(self.item_col).alias("sketch"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        idempotent_batch_write(sk, self._dir, batch_id)

    def merged(self, spark) -> DataFrame:
        """(group_cols..., sketch, n_rows): one union-merged sketch per
        group — re-shippable state (feed it to further rollups)."""
        schema = ", ".join(
            f"{c} {self.group_types.get(c, 'string')}" for c in self.group_cols
        )
        return (
            read_committed(spark, self._dir, f"{schema}, sketch binary, n_rows bigint")
            .groupBy(*self.group_cols)
            .agg(
                F.hll_union_agg("sketch").alias("sketch"),
                F.sum("n_rows").alias("n_rows"),
            )
        )

    def estimates(self, spark) -> DataFrame:
        """(group_cols..., est_distinct, n_rows) from the merged state."""
        return self.merged(spark).select(
            *self.group_cols,
            F.hll_sketch_estimate("sketch").cast("bigint").alias("est_distinct"),
            "n_rows",
        )
