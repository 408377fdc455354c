"""Streaming connected components — cross-batch duplicate GROUPS.

Completes the streaming dedup story: `streaming/dedup_index.py` emits
near-dup PAIRS continuously, but canonicalization needs transitive
GROUPS (a~b in batch 3, b~c in batch 7 must collapse to one cluster).
This operator maintains the (node → component) mapping across
micro-batches; the contract — pinned in
tests/test_streaming_components.py — is that after any prefix of the
stream, the mapping EQUALS the batch `operators/components.
connected_components` run on the union of all pairs seen so far
(component = min reachable node id), under any batch split, arrival
order, or crash replay.

Per micro-batch (`foreachBatch`):

1. load the latest committed mapping SNAPSHOT written strictly before
   this batch (`sinks.committed_batches(root, before=batch)` — a
   replayed batch can't read its own half-written state);
2. recompute ONLY the affected subgraph: components touched by this
   batch's edges are expanded to their full membership, re-solved
   together with the new edges as a star-graph union (each old
   component contributes node→component star edges, so prior structure
   re-enters as diameter-2 stars and the pointer-jumping loop
   converges in a couple of rounds), while untouched rows carry
   forward verbatim — per-batch compute is bounded by the touched
   components + new edges, NOT the corpus;
3. write the full new mapping as a versioned snapshot via
   `sinks.idempotent_batch_write` (per-batch overwrite → replay
   rewrites exactly itself).

Correctness of the delta step: `affected` holds EVERY member of every
component any new edge touches, so the min-id over (affected ∪ new
nodes) is the true component minimum; components no edge touches
cannot change. Snapshot IO is O(nodes seen) per batch — drop superseded
generations with `sinks.vacuum_snapshots` (folding snapshots with
`compact_batches` would double-count); at 100 TB the mapping is one
(long, long) row per distinct document, partitionable by id range.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.operators.components import connected_components
from flink_application_spark.streaming.sinks import (
    BatchStore,
    committed_batches,
    idempotent_batch_write,
)

_MAPPING_SCHEMA = "node bigint, component bigint"


class StreamingComponents(BatchStore):
    def __init__(
        self, store_dir: str, *, src_col: str = "id_a", dst_col: str = "id_b"
    ) -> None:
        self.store_dir = store_dir
        self.src_col = src_col
        self.dst_col = dst_col
        self._map_dir = os.path.join(store_dir, "mapping")

    # -- store access -------------------------------------------------

    def mapping(self, spark, before: int | None = None) -> DataFrame:
        """The latest committed (node, component) snapshot — the live
        answer to "which cluster is this document in"."""
        snaps = committed_batches(self._map_dir, before)
        if not snaps:
            return spark.createDataFrame([], _MAPPING_SCHEMA)
        return spark.read.parquet(snaps[-1][1]).select("node", "component")

    # -- per-batch maintenance ----------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pairs = (
            batch_df.select(
                F.col(self.src_col).alias("id_a"), F.col(self.dst_col).alias("id_b")
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .localCheckpoint(eager=True)
        )
        old = self.mapping(spark, before=batch_id).persist()
        old.count()

        touched = (
            pairs.select(F.col("id_a").alias("node"))
            .union(pairs.select(F.col("id_b").alias("node")))
            .distinct()
        )
        aff_comps = old.join(touched, "node", "left_semi").select(
            "component"
        ).distinct()
        affected = old.join(aff_comps, "component", "left_semi")

        star = affected.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("src"), F.col("component").alias("dst")
        )
        edges = star.unionByName(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
        verts = affected.select("node").union(touched).distinct()
        if verts.limit(1).count() == 0:
            resolved = spark.createDataFrame([], _MAPPING_SCHEMA)
        else:
            resolved = connected_components(
                edges, vertices=verts, vertex_col="node"
            ).select(F.col("v").alias("node"), "component")

        new_map = (
            old.join(aff_comps, "component", "left_anti")
            .unionByName(resolved)
        )
        idempotent_batch_write(new_map, self._map_dir, batch_id)
        old.unpersist()
