"""Streaming IVF index ingestion — the persisted vector index
(`operators/ann_index.py`) maintained CONTINUOUSLY: each micro-batch
of new vectors is assigned to its coarse cluster (vectorized against
the frozen, pre-trained centroids) and appended to the inverted lists
under the usual replay-safe per-batch overwrite. Queries probe the
merged lists at any time — the index is never rebuilt.

Layout: ``lists/_batch=<id>/cluster=<c>/`` — batch isolation OUTSIDE,
cluster INSIDE, so (a) a replayed batch overwrites exactly its own
rows and (b) a probe of cluster c still partition-prunes to the
``cluster=c`` leaves of every batch (hive pruning composes across
nested keys). Centroids are frozen at ingest start — the standard
IVF operating mode (FAISS retrains offline; assignments are
append-only) — so batch results equal a one-shot build with the same
centroids, which is exactly what the test pins."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.functions.vectors import cosine
from flink_application_spark.operators.ann_index import load_centroids
from flink_application_spark.operators.similarity import _assign_udf, _topk_per_query
from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


class IVFIngest(BatchStore):
    """Appends streamed vectors to a persisted IVF index whose
    centroids were built by `operators/ann_index.build_ivf_index`
    (the ``centroids/`` + ``meta/`` dirs must exist; ``lists/`` is
    owned by this ingester)."""

    def __init__(self, index_dir: str) -> None:
        self.index_dir = index_dir
        self._lists = os.path.join(index_dir, "lists_stream")
        self._centroids = None

    def _cents(self, spark: SparkSession):
        if self._centroids is None:
            self._centroids = load_centroids(spark, self.index_dir)
        return self._centroids

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        cents = self._cents(batch_df.sparkSession)
        assign1 = _assign_udf(cents, 1)
        assigned = batch_df.filter(F.col("embedding").isNotNull()).select(
            "vec_id",
            "embedding",
            F.element_at(assign1(F.col("embedding")), 1).alias("cluster"),
        )
        idempotent_batch_write(
            assigned, self._lists, batch_id, partition_by=("cluster",)
        )

    def lists(self, spark: SparkSession) -> DataFrame:
        return read_committed(spark, self._lists)

    def query(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
    ) -> DataFrame:
        """Probe the merged (all-batches) lists — identical scoring to
        the static index / in-memory IVF with the same centroids."""
        cents = self._cents(spark)
        assignp = _assign_udf(cents, n_probe)
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.explode(assignp(F.col("embedding"))).alias("cluster"),
        )
        scored = (
            self.lists(spark)
            .join(F.broadcast(q), "cluster")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cosine"),
            )
            .distinct()
        )
        return _topk_per_query(scored, k)
