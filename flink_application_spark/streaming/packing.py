"""Streaming sequence packing — the concat-then-chunk layout over a
document stream.

The batch packer (`operators/packing.packed_spans`) plans the whole
corpus at once; an INGESTING pipeline wants spans as documents arrive,
with sequences numbered consistently across micro-batches. The state
that makes that possible is a single number — the global token cursor
(how many tokens all previous batches packed) — because
concat-then-chunk is ASSOCIATIVE: packing wave B at
`base_offset = tokens(wave A)` produces exactly the rows batch-packing
[A; B] would (pinned in tests/test_packing.py and
tests/test_streaming_packing.py).

Per micro-batch (`foreachBatch`):

1. read the cursor committed by the latest batch strictly before this
   one (`sinks.committed_batches(root, before=batch)`: a replayed
   batch re-reads the SAME cursor and rewrites the same spans);
2. pack the batch's documents (ascending id within the batch; arrival
   order across batches defines the concatenation order) with
   `packed_spans(..., base_offset=cursor)`;
3. write the spans and the advanced cursor as `_batch=<id>` overwrite
   commits.

State is ONE (batch_id, cursor) row per batch — kilobytes forever;
spans are append-only output, compactable with
`sinks.compact_batches`. Stream == batch holds whenever ids arrive in
ascending waves (the same ordering contract every keep-first streaming
operator in this package documents); out-of-order arrivals still pack
deterministically, just in arrival order — which is what a training
pipeline consuming a shuffled corpus stream wants anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.operators.packing import packed_spans
from flink_application_spark.streaming.sinks import (
    BatchStore,
    committed_batches,
    idempotent_batch_write,
    read_committed,
)


class PackingStream(BatchStore):
    def __init__(
        self,
        store_dir: str,
        seq_len: int,
        *,
        id_col: str = "doc_id",
        tokens_col: str = "n_tokens",
    ) -> None:
        self.store_dir = store_dir
        self.seq_len = seq_len
        self.id_col = id_col
        self.tokens_col = tokens_col
        self._spans_dir = os.path.join(store_dir, "spans")
        self._cursor_dir = os.path.join(store_dir, "cursor")

    # -- store access -------------------------------------------------

    def _cursor_before(self, spark, batch_id: int | None) -> int:
        snaps = committed_batches(self._cursor_dir, batch_id)
        if not snaps:
            return 0
        return spark.read.parquet(snaps[-1][1]).collect()[0]["cursor"]

    def spans(self, spark) -> DataFrame:
        """All spans committed so far (bin_id, doc_id, doc_offset,
        bin_offset, span_len)."""
        return read_committed(
            spark,
            self._spans_dir,
            f"bin_id bigint, {self.id_col} bigint, doc_offset bigint,"
            " bin_offset bigint, span_len bigint",
        ).select("bin_id", self.id_col, "doc_offset", "bin_offset", "span_len")

    def cursor(self, spark) -> int:
        """Total tokens packed by all committed batches."""
        return self._cursor_before(spark, None)

    # -- per-batch maintenance ----------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = self._cursor_before(spark, batch_id)
        docs = batch_df.select(self.id_col, self.tokens_col).filter(
            F.col(self.tokens_col) > 0
        )
        spans = packed_spans(
            docs,
            self.seq_len,
            id_col=self.id_col,
            tokens_col=self.tokens_col,
            base_offset=base,
        ).localCheckpoint(eager=True)
        batch_tokens = (
            spans.agg(F.sum("span_len").alias("s")).collect()[0]["s"] or 0
        )
        idempotent_batch_write(spans, self._spans_dir, batch_id)
        cursor_df = spark.createDataFrame(
            [(batch_id, int(base + batch_tokens))], "batch_id bigint, cursor bigint"
        )
        idempotent_batch_write(cursor_df, self._cursor_dir, batch_id)
