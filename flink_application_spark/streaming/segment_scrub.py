"""Streaming keep-first segment dedup scrub — the materializing
corpus rewrite (`operators.dedup.segment_dedup_scrub`) run live over
micro-batches: each arriving document keeps only the segments whose
fingerprint has not been seen in an EARLIER batch (or earlier in its
own batch, by the same (doc_id, seg_idx) struct-min rule), and the
scrubbed text is committed per batch.

Same store discipline as `streaming.bloom_dedup.BloomDedupStream`:

- both stores commit via `sinks.idempotent_batch_write` (per-batch
  `_batch=<id>` overwrite → replay-safe, never double-applies);
- reads go through `sinks.read_committed(..., before=batch)`: committed
  batches strictly BEFORE the current one only (a replayed batch must
  not meet its own fingerprints — it would drop every segment);
- the fingerprint store holds 16-byte md5 keys only (hive-partitioned
  on a byte prefix so membership joins prune), never segment text, so
  state grows with DISTINCT segments, not corpus size.

Arrival-order caveat, by design (same as the Bloom stream): with
doc_id-ordered waves the stream reproduces the batch operator
bit-for-bit; out-of-order arrival keeps-first-by-ARRIVAL — still valid
dedup, pinned separately.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.operators.dedup import (
    segment_rows,
    segment_scrub_assemble,
)
from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)

_PCELLS = 256


class SegmentScrubStream(BatchStore):
    def __init__(self, store_dir: str, *, seg: int = 16) -> None:
        self.store_dir = store_dir
        self.seg = seg
        self._fp_dir = os.path.join(store_dir, "fingerprints")
        self._docs_dir = os.path.join(store_dir, "scrubbed")

    # -- store access -------------------------------------------------

    def scrubbed(self, spark) -> DataFrame:
        """(doc_id, n_segs, n_dropped, scrubbed_text) so far."""
        return read_committed(
            spark,
            self._docs_dir,
            "doc_id bigint, n_segs bigint, n_dropped bigint, scrubbed_text string",
        ).select("doc_id", "n_segs", "n_dropped", "scrubbed_text")

    # -- per-batch maintenance ----------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        segs = segment_rows(batch_df, self.seg).withColumn(
            "pcell", F.conv(F.substring("h", 1, 2), 16, 10).cast("int") % _PCELLS
        ).persist()

        # seen-in-earlier-batch: md5-key semi-join against the store,
        # restricted to committed batches strictly before this one
        old = read_committed(
            spark, self._fp_dir, segs.select("pcell", "h").schema, before=batch_id
        ).select("pcell", "h")
        hit_old = (
            segs.join(old, ["pcell", "h"], "left_semi")
            .select("doc_id", "seg_idx")
            .withColumn("old_hit", F.lit(1))
        )

        # first-within-batch: the batch operator's struct-min rule
        firsts = segs.groupBy("h").agg(
            F.min(
                F.struct(F.col("doc_id").alias("d"), F.col("seg_idx").alias("s"))
            ).alias("fk")
        )
        flagged = (
            segs.join(firsts, "h")
            .join(hit_old, ["doc_id", "seg_idx"], "left")
            .select(
                "doc_id",
                "seg_idx",
                "seg_text",
                F.when(
                    F.col("old_hit").isNotNull(), F.lit(0)
                )
                .otherwise(
                    (
                        (F.col("doc_id") == F.col("fk.d"))
                        & (F.col("seg_idx") == F.col("fk.s"))
                    ).cast("int")
                )
                .alias("kept"),
            )
        )
        idempotent_batch_write(
            segment_scrub_assemble(flagged), self._docs_dir, batch_id
        )
        # Store only fingerprints the earlier batches do NOT already
        # hold: without the anti-join a boilerplate hash recurring in
        # every micro-batch is stored once per batch and the store (and
        # the membership semi-join's input) grows with stream length —
        # the anti-join restores the documented bound of one row per
        # DISTINCT segment. Replay-safe: reads are already restricted
        # to batches strictly before the reader, and a replayed batch
        # recomputes the same anti-join against the same earlier set.
        fresh = (
            segs.select("pcell", "h").distinct().join(old, ["pcell", "h"], "left_anti")
        )
        idempotent_batch_write(
            fresh,
            self._fp_dir,
            batch_id,
            partition_by=("pcell",),
        )
        segs.unpersist()
