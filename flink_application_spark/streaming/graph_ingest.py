"""Streaming kNN-graph maintenance — the `operators/graph_insert.py`
micro-batch fold wired to the snapshot-store discipline: each arriving
batch of vectors beam-searches the latest committed pre-batch graph,
back-links, re-prunes, and commits the updated adjacency as a full
snapshot (`graph/_batch=<id>`); the batch's vectors append to an
additive coordinate store (`vectors/_batch=<id>`). Because a wave's
members never see each other and later waves see every earlier one,
a stream of waves is IDENTICAL to the batch `graph_insert_waves` run
with the same wave split — pinned by tests/test_graph_insert.py.

Batches may also be MIXED CDC-style changelogs: with an ``op`` column
('insert' | 'delete'), a batch's deletions apply FIRST against the
pre-batch graph (`operators/graph_delete.py` — prune + local repair +
back-link), then its insertions beam-search the post-delete graph.
Deleted ids append to an additive tombstone store
(``deletes/_batch=<id>``) so replay and coordinate reconstruction
stay strictly-before and idempotent; tombstones are BATCH-AWARE
(round-10 ADVICE): an id deleted in batch N and re-inserted in batch
M >= N survives reconstruction with its latest coordinates, so
delete-then-reinsert and same-batch upserts stay scorable. Entry
points are re-derived per batch as the `beam` smallest SURVIVING
vertex ids (for insert-only streams over the largest-ids-arrive-last
convention this equals the frozen base-entry convention, keeping the
stream == batch pin intact).

Replay safety (the shared store contract): a replayed batch reads the
newest graph snapshot STRICTLY BEFORE itself and coordinate batches
strictly before itself, then overwrites exactly its own two dirs —
bit-identical output, no double-insert. Crash partials (no _SUCCESS)
are invisible to readers. Old graph snapshots are superseded wholesale
— vacuum with `sinks.vacuum_snapshots`, never `compact_batches`.

Scale: snapshots are ids-only n·k edge frames; vectors are written
once each (additive), and the per-batch work is bounded by the wave
size, not the corpus (module doc of operators/graph_insert.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.operators.graph_insert import graph_insert_batch
from flink_application_spark.operators.kmeans_exact import quantize_ppm
from flink_application_spark.streaming.sinks import (
    BatchStore,
    committed_batches,
    idempotent_batch_write,
    read_committed,
)

_GRAPH_SCHEMA = "src bigint, dst bigint, d2 bigint, rank int"
_COORD_SCHEMA = "vec_id bigint, e array<bigint>"


class GraphIngest(BatchStore):
    """Grows a seeded kNN graph as vector micro-batches arrive.

    ``seed(spark, base_graph, base_coords)`` must run once before any
    batch: it writes the base adjacency (vec_id/nbr_id or src/dst
    columns, with d2 + rank) and base ppm coordinates under
    ``base/``. Entry points are the ``beam`` smallest BASE vec_ids,
    frozen at seed time (the wave-invariant convention shared with
    the batch operator and the oracle)."""

    def __init__(
        self, store_dir: str, *, k: int = 6, beam: int = 8, hops: int = 2
    ) -> None:
        self.store_dir = store_dir
        self.k, self.beam, self.hops = k, beam, hops
        self._graph_dir = os.path.join(store_dir, "graph")
        self._vec_dir = os.path.join(store_dir, "vectors")
        self._del_dir = os.path.join(store_dir, "deletes")
        self._base_graph = os.path.join(store_dir, "base", "graph")
        self._base_coords = os.path.join(store_dir, "base", "coords")

    # -- seeding -------------------------------------------------------

    def seed(
        self, spark: SparkSession, base_graph: DataFrame, base_coords: DataFrame
    ) -> None:
        cols = set(base_graph.columns)
        if "vec_id" in cols and "src" not in cols:
            base_graph = base_graph.select(
                F.col("vec_id").alias("src"),
                F.col("nbr_id").alias("dst"),
                "d2",
                "rank",
            )
        base_graph.write.mode("overwrite").parquet(self._base_graph)
        base_coords.select("vec_id", "e").write.mode("overwrite").parquet(
            self._base_coords
        )

    def seed_from_embeddings(
        self, spark: SparkSession, base_emb: DataFrame, *, graph_iters: int = 3
    ) -> None:
        """Convenience: NN-Descent-build the base graph from raw
        (vec_id, embedding) rows and seed the store with it."""
        from flink_application_spark.operators.nndescent_exact import (
            nn_descent_exact,
        )

        base_emb = base_emb.filter(F.col("embedding").isNotNull())
        self.seed(
            spark,
            nn_descent_exact(base_emb, k=self.k, n_iter=graph_iters),
            quantize_ppm(base_emb),
        )

    # -- store access ---------------------------------------------------

    def graph(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        snaps = committed_batches(self._graph_dir, before)
        if snaps:
            return spark.read.parquet(snaps[-1][1]).select("src", "dst", "d2", "rank")
        return spark.read.parquet(self._base_graph)

    def _coords(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        # Tombstones are BATCH-AWARE: an id deleted in batch N and
        # re-inserted in batch M >= N survives with its batch-M
        # coordinates (within one CDC batch, deletes apply before
        # inserts, so a same-batch delete+insert keeps the insert).
        # Base coordinates carry batch -1.
        out = (
            spark.read.parquet(self._base_coords)
            .select("vec_id", "e")
            .withColumn("_b", F.lit(-1).cast("long"))
        )
        # ONE committed read per store: the `_batch` dir key rides the
        # rows as a column instead of one union branch per dir
        # (O(n_batches) driver-side plan cost on a long-lived stream)
        out = out.unionByName(
            read_committed(spark, self._vec_dir, _COORD_SCHEMA, before=before).select(
                "vec_id", "e", F.col("_batch").cast("long").alias("_b")
            )
        )
        gone = (
            read_committed(spark, self._del_dir, "vec_id bigint", before=before)
            .select("vec_id", F.col("_batch").cast("long").alias("_db"))
            .groupBy("vec_id")
            .agg(F.max("_db").alias("_db"))
        )
        out = (
            out.join(gone, "vec_id", "left")
            .filter(F.col("_db").isNull() | (F.col("_b") >= F.col("_db")))
            .drop("_db")
        )
        # latest insert wins per id (upsert semantics); a no-op for
        # insert-only unique-id streams, keeping the stream==batch pin
        return (
            out.groupBy("vec_id")
            .agg(F.max_by("e", "_b").alias("e"))
            .select("vec_id", "e")
        )

    def _entry_ids(self, coords: DataFrame) -> list[int]:
        """The `beam` smallest SURVIVING vertex ids — re-derived per
        batch (a delete may remove a former entry). For insert-only
        streams where arriving ids exceed the base's (the demo
        convention), this equals the frozen base-entry set, keeping
        stream == batch parity with graph_insert_waves."""
        return [
            r["vec_id"] for r in coords.orderBy("vec_id").limit(self.beam).collect()
        ]

    # -- per-batch maintenance -------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch. Plain (vec_id, embedding) batches are
        pure insertions; with an ``op`` column ('insert' | 'delete'),
        deletions apply FIRST against the pre-batch graph, then
        insertions search the post-delete graph (CDC convention:
        within a changelog batch, retractions precede additions)."""
        from flink_application_spark.operators.graph_delete import (
            graph_delete_batch,
        )

        spark = batch_df.sparkSession
        has_op = "op" in batch_df.columns
        ins_df = (
            batch_df.filter(F.col("op") == "insert") if has_op else batch_df
        )
        del_ids = (
            sorted(
                r["vec_id"]
                for r in batch_df.filter(F.col("op") == "delete")
                .select("vec_id")
                .distinct()
                .collect()
            )
            if has_op
            else []
        )
        new = quantize_ppm(
            ins_df.filter(F.col("embedding").isNotNull())
        ).localCheckpoint(eager=True)
        if new.limit(1).count() == 0 and not del_ids:
            # still commit the (empty) batch dirs so replay stays a
            # strict overwrite; graph snapshot unchanged → skip
            idempotent_batch_write(
                spark.createDataFrame([], _COORD_SCHEMA), self._vec_dir, batch_id
            )
            idempotent_batch_write(
                spark.createDataFrame([], "vec_id bigint"), self._del_dir, batch_id
            )
            return
        graph_cur = self.graph(spark, before=batch_id)
        coords_cur = self._coords(spark, before=batch_id)
        if del_ids:
            ent = self._entry_ids(
                coords_cur.filter(
                    ~F.col("vec_id").isin([int(i) for i in del_ids])
                )
            )
            graph_cur, coords_cur = graph_delete_batch(
                graph_cur,
                coords_cur,
                del_ids,
                k=self.k,
                beam=self.beam,
                hops=self.hops,
                entry_ids=ent,
            )
            graph_cur = graph_cur.localCheckpoint()
            coords_cur = coords_cur.localCheckpoint()
        updated = graph_cur
        if new.limit(1).count() > 0:
            updated, _ = graph_insert_batch(
                graph_cur,
                coords_cur,
                new,
                k=self.k,
                beam=self.beam,
                hops=self.hops,
                entry_ids=self._entry_ids(coords_cur),
            )
        idempotent_batch_write(
            updated.select("src", "dst", "d2", "rank"), self._graph_dir, batch_id
        )
        idempotent_batch_write(new, self._vec_dir, batch_id)
        idempotent_batch_write(
            spark.createDataFrame(
                [(int(i),) for i in del_ids], "vec_id bigint"
            ),
            self._del_dir,
            batch_id,
        )
