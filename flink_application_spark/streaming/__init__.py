"""Structured Streaming layer (SURVEY §7.2 M3).

The operator library in ``operators/`` is batch/stream-agnostic
(DataFrame → DataFrame); this package adds the stream-only pieces:
session-window dedup state, sink policies (console / partitioned
parquet with trigger + checkpoint), the end-to-end streaming
enrichment pipeline mirroring the reference job topology, and the
``_batch=<id>`` stores, which all commit, read and attach through the
one per-batch store contract in ``sinks`` (`idempotent_batch_write`,
`committed_batches`, `read_committed`, `BatchStore`).
"""
