"""Streaming drift alarm — the live form of `plans/drift_queries.py`:
a FROZEN baseline histogram (built offline from a reference window) is
compared against every micro-batch's distribution; each batch commits
one PSI row per monitored feature. The alarm a curation intake wears:
when a feed's language/length/source mix shifts, the batch that
shifted says so (<0.1 stable, >0.25 major — the standard bands).

State: none beyond the baseline table and the per-batch PSI audit
rows (replay-safe overwrite). The per-batch work is one fixed-bucket
aggregate per feature + a ≤-buckets join against the broadcast
baseline — alarm cost is independent of batch size beyond the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


def _features() -> dict[str, F.Column]:
    return {
        "len_band": (F.col("n_chars") / F.lit(50)).cast("bigint").cast("string"),
        "lang": F.coalesce(F.col("lang"), F.lit("?")),
        "source": F.coalesce(F.col("source"), F.lit("?")),
    }


def build_baseline(ref_docs: DataFrame, baseline_dir: str) -> None:
    """Persist per-feature bucket counts of the reference window."""
    parts = []
    for name, bucket in _features().items():
        parts.append(
            ref_docs.select(
                F.lit(name).alias("feature"), bucket.alias("bk")
            )
            .groupBy("feature", "bk")
            .agg(F.count(F.lit(1)).alias("nb"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(1).write.mode("overwrite").parquet(baseline_dir)


class DriftMonitor(BatchStore):
    def __init__(self, baseline_dir: str, out_dir: str) -> None:
        self.baseline_dir = baseline_dir
        self._audit = os.path.join(out_dir, "psi")
        self._baseline = None

    def _base(self, spark: SparkSession) -> DataFrame:
        if self._baseline is None:
            self._baseline = spark.read.parquet(self.baseline_dir)
        return self._baseline

    def batch_psi(self, batch_df: DataFrame) -> DataFrame:
        """(feature, psi, n_buckets, n_rows) for one batch vs baseline
        (add-one smoothing; bucket-ordered deterministic fold)."""
        base = self._base(batch_df.sparkSession)
        parts = []
        for name, bucket in _features().items():
            c = (
                batch_df.select(bucket.alias("bk"))
                .groupBy("bk")
                .agg(F.count(F.lit(1)).alias("nc"))
            )
            joined = (
                base.filter(F.col("feature") == name)
                .select("bk", "nb")
                .join(c, "bk", "full_outer")
                .select(
                    "bk",
                    F.coalesce(F.col("nb"), F.lit(0)).alias("nb"),
                    F.coalesce(F.col("nc"), F.lit(0)).alias("nc"),
                )
            )
            totals = joined.agg(
                F.sum("nb").alias("tb"),
                F.sum("nc").alias("tc"),
                F.count(F.lit(1)).alias("k"),
            )
            p = (F.col("nb") + 1).cast("double") / (F.col("tb") + F.col("k"))
            q = (F.col("nc") + 1).cast("double") / (F.col("tc") + F.col("k"))
            terms = joined.crossJoin(F.broadcast(totals)).select(
                "bk", ((p - q) * F.log(p / q)).alias("term"), "nc"
            )
            parts.append(
                terms.agg(
                    F.lit(name).alias("feature"),
                    F.round(
                        F.aggregate(
                            F.transform(
                                F.array_sort(F.collect_list(F.struct("bk", "term"))),
                                lambda s: s["term"],
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        6,
                    ).alias("psi"),
                    F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                    F.sum("nc").cast("bigint").alias("n_rows"),
                )
            )
        out = parts[0]
        for p2 in parts[1:]:
            out = out.unionByName(p2)
        return out

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            idempotent_batch_write(
                self.batch_psi(batch_df), self._audit, batch_id
            )
        finally:
            batch_df.unpersist()

    def audit(self, spark: SparkSession) -> DataFrame:
        return read_committed(spark, self._audit)
