"""Streaming Bloom-filter dedup — memory-bounded cross-batch duplicate
flagging over a continuous document feed.

`streaming/dedup_index.py` keeps an EXACT near-dup index whose stores
grow with the corpus. The Bloom form trades a measured false-positive
rate (audited by `plans/bloom_queries.py:doc_bloom_dedup_audit`) for a
HARD bound on state: the filter is m bits forever, whatever the corpus
size — the classic choice for "have I seen this document before" at
100 TB ingest (Bloom, CACM 1970). A duplicate is never missed (no
false negatives); a new document is dropped at the audited FPR.

Per micro-batch (`foreachBatch`):

1. the batch's k md5 bit positions per doc come from the SAME
   `bloom_positions` used by the batch audit — stream == batch is an
   identity of set algebra, not of two hash implementations (pinned by
   tests/test_bloom_dedup_stream.py);
2. a doc is flagged iff every position is covered, where covered means
   set by an earlier BATCH (semi-join against the bit store, pruned by
   the `pcell` hive partition) or by a lower-id doc in THIS batch
   (min-doc_id first-setter, the batch audit's rule) — so batch
   boundaries don't change verdicts when ids arrive in order;
3. verdicts land in `flags/`, the batch's distinct positions land in
   `bits/`, both via `sinks.idempotent_batch_write` (per-batch
   overwrite → crash-replay rewrites exactly itself).

Replay safety beyond the idempotent writes: the probe reads only
`_batch < current` from the bit store, so a replayed batch cannot meet
its own half-written bits and flag everything as seen.

State bound: `bits/` holds ≤ min(m, k·docs) distinct positions per
batch and the filter saturates at m rows per batch read; compact with
`sinks.compact_batches` on maintenance windows. The per-batch probe is
one equi-join on (pcell, pos) — dynamic partition pruning skips store
cells no batch doc hashes into, the same store layout as the LSH band
index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.plans.bloom_queries import _K, _M, bloom_positions
from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)

_PCELLS = 256


class BloomDedupStream(BatchStore):
    def __init__(
        self,
        store_dir: str,
        *,
        m: int = _M,
        k: int = _K,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.store_dir = store_dir
        self.m = m
        self.k = k
        self.id_col = id_col
        self.text_col = text_col
        self._bits_dir = os.path.join(store_dir, "bits")
        self._flags_dir = os.path.join(store_dir, "flags")

    # -- store access -------------------------------------------------

    def flags(self, spark) -> DataFrame:
        """All per-doc verdicts so far: (doc_id, bloom_dup 0/1)."""
        return read_committed(
            spark, self._flags_dir, f"{self.id_col} bigint, bloom_dup bigint"
        ).select(self.id_col, "bloom_dup")

    # -- per-batch maintenance ----------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idc = self.id_col

        pos = (
            bloom_positions(
                batch_df, m=self.m, k=self.k, id_col=idc, text_col=self.text_col
            )
            .withColumn("pcell", F.col("pos") % _PCELLS)
            .persist()
        )

        # covered-by-earlier-batch: semi-join against the bit store,
        # restricted to batches strictly before this one (replay safety)
        old = read_committed(
            spark, self._bits_dir, pos.select("pcell", "pos").schema, before=batch_id
        ).select("pcell", "pos")
        hit_old = (
            pos.join(old, ["pcell", "pos"], "left_semi")
            .select(idc, "pos")
            .withColumn("old_hit", F.lit(1))
        )

        # covered-within-batch: the batch audit's first-writer-wins rule
        first_in_batch = pos.groupBy("pos").agg(F.min(idc).alias("first_id"))

        covered = (
            pos.join(first_in_batch, "pos")
            .join(hit_old, [idc, "pos"], "left")
            .select(
                idc,
                F.when(
                    (F.col("old_hit").isNotNull())
                    | (F.col("first_id") < F.col(idc)),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .alias("cov"),
            )
        )
        flags = covered.groupBy(idc).agg(
            F.min("cov").cast("bigint").alias("bloom_dup")
        )
        idempotent_batch_write(flags, self._flags_dir, batch_id)
        idempotent_batch_write(
            pos.select("pcell", "pos").distinct(),
            self._bits_dir,
            batch_id,
            partition_by=("pcell",),
        )
        pos.unpersist()
