"""Streaming materialized upsert view: a keyed snapshot continuously
maintained from a CDC changelog stream — the streaming face of
`operators/merge.py` (what a Kafka-upsert-source + dynamic table is in
Flink SQL, or MERGE-per-batch on a lakehouse table).

Versioned-snapshot commit protocol (crash-safe without a table
format): batch N reads the EXACT version N−1 directory (never
"latest") and overwrites its own `_v=N` directory, so a
checkpoint-replayed batch rebuilds the identical version instead of
double-applying — same discipline as `sinks.idempotent_batch_write`,
lifted to whole-snapshot versions. Old versions remain readable
(time travel) until `vacuum`.

Scale notes: each batch is one merge join (changelog side usually
broadcastable) plus a full snapshot rewrite — the honest cost of
format-less upserts. At 100 TB you keep THIS commit protocol but make
the rewrite partition-pruned (hash-bucket the snapshot by key, rewrite
only buckets the batch touches — `streaming/incremental.py` shows the
dynamic-partition-overwrite form of that move).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from flink_application_spark.operators.merge import apply_changelog
from flink_application_spark.streaming.sinks import BatchStore


class UpsertView(BatchStore):
    def __init__(
        self,
        work_dir: str,
        key_cols: list[str],
        seq_col: str,
        op_col: str = "op",
    ) -> None:
        self.work_dir = work_dir
        self.key_cols = key_cols
        self.seq_col = seq_col
        self.op_col = op_col

    # -- version bookkeeping ------------------------------------------

    def _versions(self) -> list[int]:
        """COMMITTED versions only: a `_v=N` directory counts once its
        `_SUCCESS` marker exists (Spark writes it last), so a crash
        mid-write leaves an ignorable partial directory, not a
        serveable 'latest'. Single writer assumed — a reader racing a
        replay's overwrite of the same version is out of scope."""
        if not os.path.isdir(self.work_dir):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.work_dir)
            if d.startswith("_v=")
            and os.path.exists(os.path.join(self.work_dir, d, "_SUCCESS"))
        )

    def _vdir(self, v: int) -> str:
        return os.path.join(self.work_dir, f"_v={v}")

    def snapshot(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The materialized view at `version` (default: latest)."""
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no snapshot versions under {self.work_dir}")
        v = version if version is not None else vs[-1]
        return spark.read.parquet(self._vdir(v))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest `keep_last` versions (directory-level
        deletes); returns the dropped version ids."""
        import shutil

        vs = self._versions()
        drop = vs[:-keep_last] if keep_last > 0 else vs
        for v in drop:
            shutil.rmtree(self._vdir(v), ignore_errors=True)
        return drop

    # -- the per-batch merge ------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = [v for v in self._versions() if v < batch_id]
        if prev:
            base = spark.read.parquet(self._vdir(prev[-1]))
        else:
            # first version: empty snapshot with the changelog's schema
            # minus the CDC bookkeeping columns
            cols = [
                c
                for c in batch_df.columns
                if c not in (self.seq_col, self.op_col)
            ]
            base = batch_df.select(*cols).limit(0)
        merged = apply_changelog(
            base, batch_df, self.key_cols, self.seq_col, self.op_col
        )
        merged.write.mode("overwrite").parquet(self._vdir(batch_id))
