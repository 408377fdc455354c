"""End-to-end streaming corpus ingestion: the composed training-data
pipeline the individual operators exist for.

    raw document stream
      → quality gate        (scan-local heuristics, functions/text.py)
      → cross-batch dedup   (NearDupIndex: LSH probe of everything seen)
      → size-capped shards  (byte-calibrated parquet, sinks.py)
      → per-batch audit row (counts at every stage)

Dedup policy is **keep-first-arrival**: a document near-duplicating
anything from an EARLIER batch is dropped; within a batch, the lowest
doc_id of each duplicate group survives (deterministic under replay —
arrival order inside one micro-batch is not meaningful, ids are).

Crash safety inherits from the components: the index stores, the shard
output, and the audit log all commit through
`sinks.idempotent_batch_write` (per-batch overwrite) and read back
through `sinks.read_committed`, so a replayed micro-batch reproduces
byte-identical state at any crash point.

This is the Spark-native generalization of the reference's whole
topology (source → enrich/filter → dedup → partitioned sink,
`EnrichmentApp.java:run`) re-aimed at corpus preparation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.functions.text import quality_score, token_count
from flink_application_spark.streaming.dedup_index import NearDupIndex
from flink_application_spark.streaming.sinks import (
    BatchStore,
    SizeCalibratedRoller,
    idempotent_batch_write,
    read_committed,
)


class CorpusIngestion(BatchStore):
    def __init__(
        self,
        work_dir: str,
        *,
        min_quality: float = 0.3,
        near_dup_threshold: float = 0.5,
        target_file_bytes: int = 110 * 1024 * 1024,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.min_quality = min_quality
        self.id_col = id_col
        self.text_col = text_col
        self.index = NearDupIndex(
            os.path.join(work_dir, "index"),
            threshold=near_dup_threshold,
            id_col=id_col,
            text_col=text_col,
        )
        self.shards_dir = os.path.join(work_dir, "shards")
        self.audit_dir = os.path.join(work_dir, "audit")
        self._roller = SizeCalibratedRoller(
            self.shards_dir, (), target_file_bytes, None
        )

    # -- read-back surfaces -------------------------------------------

    def shards(self, spark) -> DataFrame:
        return read_committed(spark, self.shards_dir)

    def audit(self, spark) -> DataFrame:
        return read_committed(spark, self.audit_dir)

    # -- the per-batch pipeline ---------------------------------------

    def _dup_rejects(self, batch_ids: DataFrame, batch_id: int, spark) -> DataFrame:
        """Doc ids of THIS batch to drop, from the pairs the index just
        emitted for this batch: keep-first-arrival → drop the
        batch-side id of any pair whose partner is older; inside the
        batch drop the greater id. (batch_pairs returns empty when the
        batch found nothing; real read errors propagate — a swallowed
        error here would silently disable dedup for the batch.)"""
        pairs = self.index.batch_pairs(spark, batch_id).select("id_a", "id_b")
        in_batch = batch_ids.select(F.col("id").alias("_bid"))
        flagged = (
            pairs.join(in_batch, pairs.id_a == in_batch._bid, "left")
            .withColumnRenamed("_bid", "a_in_batch")
            .join(
                in_batch.withColumnRenamed("_bid", "b_in_batch"),
                pairs.id_b == F.col("b_in_batch"),
                "left",
            )
        )
        # partner older (not in batch) -> drop the in-batch side;
        # both in batch -> drop the greater id (id_b, since id_a < id_b)
        drop_b = flagged.filter(F.col("b_in_batch").isNotNull()).select(
            F.col("id_b").alias("id")
        )
        drop_a = flagged.filter(
            F.col("a_in_batch").isNotNull() & F.col("b_in_batch").isNull()
        ).select(F.col("id_a").alias("id"))
        return drop_b.unionByName(drop_a).distinct()

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idc, txt = self.id_col, self.text_col

        n_in = batch_df.count()
        clean = batch_df.filter(
            F.col(txt).isNotNull() & (quality_score(F.col(txt)) >= self.min_quality)
        ).persist()
        n_clean = clean.count()

        # index maintenance emits this batch's near-dup pairs
        self.index.process_batch(clean, batch_id)
        rejects = self._dup_rejects(
            clean.select(F.col(idc).alias("id")), batch_id, spark
        )
        # persist: counted for the audit AND written by the roller —
        # without it the rejects subplan (pair read + joins + anti-join)
        # would execute twice per batch
        survivors = (
            clean.join(rejects.withColumnRenamed("id", idc), idc, "left_anti")
            .withColumn("n_tok", token_count(F.col(txt)).cast("bigint"))
            .persist()
        )
        n_out = survivors.count()

        self._roller(survivors, batch_id)
        audit_row = spark.createDataFrame(
            [(batch_id, n_in, n_in - n_clean, n_clean - n_out, n_out)],
            "batch_id bigint, n_in bigint, n_quality_rejected bigint, "
            "n_dup_rejected bigint, n_out bigint",
        )
        idempotent_batch_write(audit_row, self.audit_dir, batch_id)
        survivors.unpersist()
        clean.unpersist()
