"""Streaming uniform sample via deterministic bottom-k — the
reservoir-sampling operator re-expressed so stream == batch exactly.

Classic reservoir sampling keeps a uniform k-sample of a stream with
RNG state per insertion — order-dependent, unreplayable, and wrong
under Spark's micro-batch retries. The deterministic form keeps the k
rows with the SMALLEST md5-derived rank (a bottom-k sketch): md5 is a
fixed uniform permutation of the key space, so "k smallest ranks" IS a
uniform k-sample, and min-k is associative — any batch split, any
arrival order, any replay converges to the same sample as one pass
over the full corpus (pinned by tests/test_reservoir.py). The same
md5-rank discipline as the batch samplers (`doc_weighted_sample`'s
Efraimidis–Spirakis keys, `doc_systematic_sample`'s bucket filter).

Per micro-batch: rank the batch, union the previous sample (≤ k rows),
keep the k smallest, write to `sample/_batch=<id>/`. The union input
is ≤ k + |batch| rows, so per-batch cost is one small top-k — state is
HARD-bounded at k rows forever, the sampling counterpart of the Bloom
filter's m bits. Reads take the latest batch STRICTLY BEFORE the
current id, so a crash-replayed batch recomputes from the same
predecessor state and overwrites its own directory (idempotent).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.streaming.sinks import (
    BatchStore,
    committed_batches,
    idempotent_batch_write,
)


class BottomKSample(BatchStore):
    def __init__(self, store_dir: str, *, k: int = 100, id_col: str = "doc_id") -> None:
        self.k = k
        self.id_col = id_col
        self._dir = os.path.join(store_dir, "sample")

    # -- store access -------------------------------------------------

    def _latest_before(self, spark, batch_id: int | None) -> DataFrame | None:
        snaps = committed_batches(self._dir, batch_id)
        return spark.read.parquet(snaps[-1][1]) if snaps else None

    def sample(self, spark) -> DataFrame:
        """The current k-sample (payload columns + rkey)."""
        cur = self._latest_before(spark, None)
        if cur is None:
            raise ValueError("no completed batches in the sample store")
        return cur

    # -- per-batch maintenance ----------------------------------------

    def rank(self, df: DataFrame) -> DataFrame:
        """Attach the deterministic md5 rank (idempotent on re-rank)."""
        if "rkey" in df.columns:
            return df
        return df.withColumn(
            "rkey", F.md5(F.concat(F.lit("rs:"), F.col(self.id_col).cast("string")))
        )

    def bottom_k(self, df: DataFrame) -> DataFrame:
        return self.rank(df).orderBy("rkey", self.id_col).limit(self.k)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = self.rank(batch_df)
        prev = self._latest_before(spark, batch_id)
        if prev is not None:
            cur = cur.unionByName(prev)
        # a replayed batch overwrites its own directory from the same
        # strictly-earlier predecessor — same output, no duplication
        idempotent_batch_write(self.bottom_k(cur).coalesce(1), self._dir, batch_id)
