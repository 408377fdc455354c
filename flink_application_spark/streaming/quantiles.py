"""Streaming quantile sketch — DDSketch-style log-binned histogram
(Masson et al., VLDB'19: relative-error quantiles from γ-geometric
bins) maintained additively over a stream.

Why this sketch for the streaming store: the bin index of a value is a
pure scan-side expression (`ceil(ln|x| / ln γ)`), the per-batch state
is (bin → count) — ADDITIVE, so the merged sketch is a cell-wise sum
and the same per-batch-overwrite replay discipline as the count-min /
HLL stores applies. Bin count is bounded by the value range's dynamic
range (≈ log_γ span), independent of stream length.

Guarantee: the value returned for quantile q is within relative error
α of the true q-quantile value (γ = (1+α)/(1−α)); pinned in
tests/test_streaming_quantiles.py against exact percentiles.

Zeros and negatives: sign-partitioned (negative values mirror into
negative bins; zeros count separately) — full-real-line support even
though the demo column is positive.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


class StreamingQuantileSketch(BatchStore):
    def __init__(
        self,
        state_dir: str,
        *,
        value_col: str,
        alpha: float = 0.01,
        group_cols: tuple[str, ...] = (),
    ) -> None:
        if not (0 < alpha < 1):
            raise ValueError("alpha in (0, 1)")
        self.value_col = value_col
        self.alpha = alpha
        self.gamma = (1 + alpha) / (1 - alpha)
        self.group_cols = list(group_cols)
        self._dir = os.path.join(state_dir, "bins")

    def _bin_expr(self) -> F.Column:
        v = F.col(self.value_col).cast("double")
        lg = math.log(self.gamma)
        idx = F.ceil(F.log(F.abs(v)) / F.lit(lg)).cast("long")
        return (
            F.when(v > 0, idx)
            .when(v < 0, -idx)
            .otherwise(F.lit(0))  # sign disambiguates; bin 0 + sign 0 = zeros
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        v = F.col(self.value_col).cast("double")
        sign = F.when(v > 0, 1).when(v < 0, -1).otherwise(0)
        bins = (
            batch_df.filter(v.isNotNull())
            .select(
                *self.group_cols,
                sign.alias("sign"),
                self._bin_expr().alias("bin"),
            )
            .groupBy(*self.group_cols, "sign", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        idempotent_batch_write(bins, self._dir, batch_id)

    def merged(self, spark) -> DataFrame:
        return (
            read_committed(spark, self._dir)
            .groupBy(*self.group_cols, "sign", "bin")
            .agg(F.sum("c").alias("c"))
        )

    def _bin_value(self, sign: int, b: int) -> float:
        if sign == 0:
            return 0.0
        # negative values store bin = -idx (sign disambiguates), so the
        # magnitude exponent is |idx| = b for positives, -b for negatives
        idx = b if sign > 0 else -b
        mag = 2.0 * self.gamma**idx / (self.gamma + 1)  # bin midpoint (geometric)
        return mag if sign > 0 else -mag

    def quantiles(self, spark, qs: list[float]) -> dict:
        """{group_key_tuple: {q: estimate}} — the merged sketch is
        bounded (≈ dynamic-range/log γ bins per group), so the rank
        walk is a driver-side loop over kilobytes, not data."""
        rows = self.merged(spark).collect()
        by_group: dict = {}
        for r in rows:
            key = tuple(r[c] for c in self.group_cols)
            by_group.setdefault(key, []).append(
                (int(r["sign"]), int(r["bin"]), int(r["c"]))
            )
        out: dict = {}
        for key, cells in by_group.items():
            # total order over the real line: because negatives store
            # bin = -idx, plain (sign, bin) ascending walks negatives
            # largest-magnitude-first (idx desc ⇔ stored bin asc), then
            # zeros, then positives magnitude-ascending — real-line order
            cells.sort(key=lambda t: (t[0], t[1]))
            total = sum(c for _, _, c in cells)
            est = {}
            for q in qs:
                target = q * (total - 1)
                acc = 0
                val = None
                for sign, b, c in cells:
                    acc += c
                    if acc - 1 >= target:
                        val = self._bin_value(sign, b)
                        break
                if val is None:
                    val = self._bin_value(*cells[-1][:2])
                est[q] = val
            out[key] = est
        return out
