"""Streaming bootstrap-CI monitor — per-source quality error bars
maintained continuously over an ingest stream.

The Poisson bootstrap's per-(source, replica) partials (Σ w·qppm,
Σ w — `plans/bootstrap_queries.bootstrap_partials`) are EXACT INTEGER
sums of per-row terms, so partials from any row-disjoint batch split
ADD to the whole-corpus partials — stream == batch is arithmetic
identity, not approximation (the same additive-sketch contract as the
heavy-hitters and HLL stores). Each micro-batch therefore writes only
its own partials (one row per source × 201 replicas — kilobytes);
nothing reads cross-batch state during processing, so replay safety
is just the per-batch overwrite commit.

`report(spark)` merges all committed partials and emits the identical
columns as the registered `source_quality_bootstrap_ci` query on the
union corpus (pinned in tests/test_bootstrap_stream.py) — the live
answer to "has source X's quality CI drifted / do A and B still
overlap" without rescanning history. Compact the store with
`sinks.compact_batches(combine={'swq': 'sum', 'sw': 'sum'},
group_cols=('source', 'b'))`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from flink_application_spark.plans.bootstrap_queries import (
    bootstrap_partials,
    ci_report,
    scored_docs,
)
from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


class BootstrapCIStream(BatchStore):
    def __init__(self, store_dir: str) -> None:
        self.store_dir = store_dir
        self._partials_dir = os.path.join(store_dir, "partials")

    def partials(self, spark) -> DataFrame:
        return read_committed(
            spark, self._partials_dir, "source string, b int, swq bigint, sw bigint"
        ).select("source", "b", "swq", "sw")

    def report(self, spark) -> DataFrame:
        """Per-source observed mean + 95% CI over everything ingested
        so far — identical to the batch query on the union corpus."""
        return ci_report(self.partials(spark))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        idempotent_batch_write(
            bootstrap_partials(scored_docs(batch_df)),
            self._partials_dir,
            batch_id,
        )
