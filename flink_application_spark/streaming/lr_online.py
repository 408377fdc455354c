"""Online (mini-batch) softmax-LR training over a stream — the
streaming counterpart of `operators/lr.softmax_lr_fit`, and the
"online learning" operating mode Flink ML exposes that batch-only
training lacks: each micro-batch applies `steps_per_batch` gradient
steps ON ITS OWN ROWS starting from the weights the PREVIOUS batch
committed, so the model tracks the stream without ever replaying it.

Store discipline (same as `reservoir.BottomKSample` — the
carried-state variant, not the additive one):

- weights commit per batch via `sinks.idempotent_batch_write`
  (`_batch=<id>` overwrite → replay-safe);
- reads take the LATEST committed batch STRICTLY BEFORE the current
  id, so a crash-replayed batch recomputes from the same predecessor
  weights and overwrites its own directory with the identical result;
- state is ONE C×(d+1) float64 block regardless of stream length —
  kilobytes, the hardest possible state bound.

Determinism: the per-batch gradient fold reuses `operators/lr._one_pass`
(its partial-sort discipline included), so a single-partition batch is
bit-identical to the numpy mini-batch reference — pinned in
tests/test_lr_online.py alongside replay/crash-window contracts.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame

from flink_application_spark.operators.lr import _one_pass
from flink_application_spark.streaming.sinks import (
    BatchStore,
    committed_batches,
    idempotent_batch_write,
)


class OnlineLRTrainer(BatchStore):
    def __init__(
        self,
        store_dir: str,
        *,
        n_classes: int,
        dim: int,
        step: float = 16.0,
        l2: float = 1e-3,
        steps_per_batch: int = 1,
        vec_col: str = "embedding",
        label_col: str = "label",
    ) -> None:
        self.store_dir = store_dir
        self.n_classes = n_classes
        self.dim = dim
        self.step = step
        self.l2 = l2
        self.steps_per_batch = steps_per_batch
        self.vec_col = vec_col
        self.label_col = label_col
        self._dir = os.path.join(store_dir, "weights")

    # -- store access -------------------------------------------------

    def _load(
        self, spark, batch_id: int | None
    ) -> tuple[np.ndarray, np.ndarray, int]:
        """Weights committed by the latest batch STRICTLY BEFORE
        `batch_id` (any batch for None; zero-init if none) plus rows
        seen so far."""
        snaps = committed_batches(self._dir, batch_id)
        if not snaps:
            return (
                np.zeros((self.n_classes, self.dim), dtype=np.float64),
                np.zeros(self.n_classes, dtype=np.float64),
                0,
            )
        row = spark.read.parquet(snaps[-1][1]).collect()[0]
        w = np.asarray(row["w"], dtype=np.float64).reshape(self.n_classes, self.dim)
        b = np.asarray(row["b"], dtype=np.float64)
        return w, b, int(row["n_seen"])

    def weights(self, spark) -> tuple[np.ndarray, np.ndarray, int]:
        """The current model: latest committed weights + rows seen."""
        if not committed_batches(self._dir):
            raise ValueError("no committed weight batches in the store")
        return self._load(spark, None)

    # -- per-batch maintenance ----------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w, b, n_seen = self._load(spark, batch_id)
        batch_df = batch_df.filter(
            batch_df[self.vec_col].isNotNull() & batch_df[self.label_col].isNotNull()
        ).persist()
        n_batch = 0
        for _ in range(self.steps_per_batch):
            partials = _one_pass(
                batch_df, w, b, vec_col=self.vec_col, label_col=self.label_col
            )
            if not partials:
                break  # empty micro-batch: commit carried weights as-is
            partials = sorted(
                partials, key=lambda r: (r["n"], r["nll"], tuple(r["g"][:4]))
            )
            g = np.zeros(self.n_classes * self.dim + self.n_classes, dtype=np.float64)
            n_batch = 0
            for r in partials:
                g += np.asarray(r["g"], dtype=np.float64)
                n_batch += r["n"]
            g_w = g[: self.n_classes * self.dim].reshape(self.n_classes, self.dim)
            g_b = g[self.n_classes * self.dim :]
            w = w - self.step * (g_w / n_batch + self.l2 * w)
            b = b - self.step * (g_b / n_batch)
        batch_df.unpersist()
        out = spark.createDataFrame(
            [(w.ravel().tolist(), b.tolist(), n_seen + n_batch)],
            "w array<double>, b array<double>, n_seen bigint",
        )
        idempotent_batch_write(out, self._dir, batch_id)
