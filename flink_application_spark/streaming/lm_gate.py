"""Streaming model-scored quality gate — the batch-trained bigram LM
(`plans/lm_queries.lm_model`) applied to a LIVE document stream: the
model is a persisted TABLE, each micro-batch scores against it with a
dim join + position-ordered fold, and documents route to accept /
reject stores by perplexity band.

This is the reference's enrichment shape with a LEARNED dimension
(EnrichmentApp's JDBC lookup → our parquet model table), and the
standard production split of an ML-filtered ingest: train offline on
a reference corpus, apply online per batch. Unseen bigrams are
ignored (scored-mass-only contract, same as the batch scorer);
zero-scored-bigram docs are rejected with reason 'unscorable'.

Crash safety: accept/reject/audit all commit via per-batch overwrite
(`sinks.idempotent_batch_write`) and read back committed-only
(`sinks.read_committed`) — replay converges.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.plans.lm_queries import lm_model, score_with_model
from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


def train_lm_to_dir(ref_docs: DataFrame, model_dir: str) -> None:
    """Train on the reference corpus and persist the model TABLE."""
    lm_model(ref_docs).write.mode("overwrite").parquet(model_dir)


class LMGate(BatchStore):
    """Routes streamed documents by LM perplexity band:
    accept if lo <= mean_nll <= hi, else reject (reason = 'too_low'
    repetitive / 'too_high' gibberish / 'unscorable')."""

    def __init__(
        self,
        model_dir: str,
        out_dir: str,
        *,
        lo: float,
        hi: float,
    ) -> None:
        self.model_dir = model_dir
        self.lo = lo
        self.hi = hi
        self._accept = os.path.join(out_dir, "accepted")
        self._reject = os.path.join(out_dir, "rejected")
        self._audit = os.path.join(out_dir, "audit")
        self._probs = None

    def _model(self, spark: SparkSession) -> DataFrame:
        if self._probs is None:
            self._probs = spark.read.parquet(self.model_dir)
        return self._probs

    def verdicts(self, batch_df: DataFrame) -> DataFrame:
        probs = self._model(batch_df.sparkSession)
        scores = score_with_model(batch_df, probs)
        joined = batch_df.join(scores, "doc_id", "left")
        return joined.select(
            "doc_id",
            "mean_nll",
            F.when(F.col("mean_nll").isNull(), F.lit("unscorable"))
            .when(F.col("mean_nll") < self.lo, F.lit("too_low"))
            .when(F.col("mean_nll") > self.hi, F.lit("too_high"))
            .otherwise(F.lit("accept"))
            .alias("verdict"),
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        v = self.verdicts(batch_df).cache()
        try:
            rows = batch_df.join(v, "doc_id").cache()
            idempotent_batch_write(
                rows.filter(F.col("verdict") == "accept").drop("verdict"),
                self._accept,
                batch_id,
            )
            idempotent_batch_write(
                rows.filter(F.col("verdict") != "accept"),
                self._reject,
                batch_id,
            )
            idempotent_batch_write(
                v.groupBy("verdict").agg(F.count(F.lit(1)).alias("n_docs")),
                self._audit,
                batch_id,
            )
            rows.unpersist()
        finally:
            v.unpersist()

    def accepted(self, spark: SparkSession) -> DataFrame:
        return read_committed(spark, self._accept)

    def rejected(self, spark: SparkSession) -> DataFrame:
        return read_committed(spark, self._reject)
