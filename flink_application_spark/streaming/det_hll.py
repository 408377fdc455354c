"""Streaming deterministic-HLL store — the exact-identity twin of
`streaming/hll.StreamingDistinctSketch`.

Same shape (per-micro-batch sketches committed to a mergeable state
table; rollups merge kilobytes instead of replaying the stream), but
built on `operators/hll.det_hll_sketch`: the state is long-format
(group…, register, max-rank) rows, and merge is register-wise MAX —
associative, commutative, IDEMPOTENT. That idempotence upgrades the
store contract from the DataSketches twin's estimate-equality to
exact TABLE identity: `sketch(spark)` after any prefix of the stream
EQUALS the batch `det_hll_sketch` on the union of everything ingested,
under any batch split, arrival order, or crash replay (pinned in
tests/test_det_hll_stream.py).

Store discipline (the additive-partials template,
streaming/bootstrap_ci.py): each batch writes ONLY its own per-batch
sketch via `sinks.idempotent_batch_write` (_batch=<id> overwrite —
replay rewrites exactly itself); nothing reads cross-batch state
during processing. State per batch ≤ m rows per observed group;
compact old generations with `sinks.compact_batches(combine=
{'rank': 'max'}, group_cols=(*group_cols, 'register'))`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from flink_application_spark.operators.hll import (
    det_hll_estimate,
    det_hll_sketch,
    merge_sketches,
)
from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


class DetHllStream(BatchStore):
    def __init__(
        self,
        store_dir: str,
        *,
        group_cols: tuple[str, ...],
        item_col: str,
        group_ddl: str = "",
    ) -> None:
        if not group_cols:
            raise ValueError("need at least one group column")
        self.group_cols = list(group_cols)
        self.item_col = item_col
        # DDL for the empty-state frame (defaults every group col to
        # string; pass e.g. "day date, event_type string" to override)
        self.group_ddl = group_ddl or ", ".join(
            f"{c} string" for c in group_cols
        )
        self._dir = os.path.join(store_dir, "det_hll")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        idempotent_batch_write(
            det_hll_sketch(batch_df, self.item_col, self.group_cols),
            self._dir,
            batch_id,
        )

    def sketch(self, spark) -> DataFrame:
        """The merged (group…, register, rank) table over everything
        ingested — EXACTLY the batch sketch of the union corpus."""
        raw = read_committed(
            spark, self._dir, f"{self.group_ddl}, register int, rank int"
        ).select(*self.group_cols, "register", "rank")
        return merge_sketches(raw, self.group_cols)

    def estimates(self, spark) -> DataFrame:
        """(group…, est_users, n_registers) — identical to the batch
        estimate on the union corpus, bit for bit."""
        return det_hll_estimate(self.sketch(spark), self.group_cols)
