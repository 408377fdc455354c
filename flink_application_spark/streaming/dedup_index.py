"""Incremental MinHash-LSH near-duplicate index.

The batch dedup pipeline (operators/minhash.py:verified_near_dup_pairs)
answers "which pairs in this corpus are near-dups" in one shot. A
training-data ingestion pipeline has the harder ongoing form: documents
arrive continuously, and each new document must be checked against
EVERYTHING seen so far without re-scanning the corpus. This module
maintains that index with Structured Streaming's `foreachBatch`:

- **signature store** (`bands/`): (doc_id, band_key) rows — the tiny
  LSH fingerprint of the corpus, appended per batch. At 100 TB of text
  this store is GBs (bands × 32-hex keys per doc), and the per-batch
  join against it is an equi-join on band_key — the new batch's band
  keys select only matching buckets, never the corpus.
- **shingle store** (`shingles/`): (doc_id, shingles) for exact-Jaccard
  verification of candidates whose partner arrived in an earlier batch.
  Only candidate ids are ever read back (join by id).
- **pair log** (`pairs/`): each near-dup pair is emitted exactly once —
  in the batch where its LATER document arrives (new-vs-old) or where
  both arrive (new-vs-new). The union over batches equals the batch
  pipeline's output on the full corpus (pinned by
  tests/test_dedup_index.py).

Every store append goes through `sinks.idempotent_batch_write`: the
batch overwrites its own `_batch=<id>/` subdirectory, so a
checkpoint-replayed micro-batch — after a crash at ANY point in the
three-store commit sequence — rewrites exactly its own data instead of
appending duplicates. Flink parity note: this is the
streaming generalization of the reference's equality dedup
(EnrichmentApp.java:142-156) to content similarity; Flink would hold
the signature store in keyed state, Spark in cheap append-only parquet
keyed by band — re-read per batch, broadcast when small.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.operators.minhash import (
    DEFAULT_BANDS,
    DEFAULT_K,
    band_keys_long,
    bucket_self_pairs,
    jaccard_column,
    with_shingles,
)
from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)

_PAIRS_SCHEMA = "id_a bigint, id_b bigint, jaccard double"


class NearDupIndex(BatchStore):
    def __init__(
        self,
        index_dir: str,
        *,
        threshold: float = 0.5,
        k: int = DEFAULT_K,
        bands: int = DEFAULT_BANDS,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.index_dir = index_dir
        self.threshold = threshold
        self.k = k
        self.bands = bands
        self.id_col = id_col
        self.text_col = text_col
        self._bands_dir = os.path.join(index_dir, "bands")
        self._shingles_dir = os.path.join(index_dir, "shingles")
        self._pairs_dir = os.path.join(index_dir, "pairs")

    # -- store access -------------------------------------------------

    def pairs(self, spark) -> DataFrame:
        """All near-dup pairs discovered so far (id_a < id_b, jaccard)."""
        return read_committed(spark, self._pairs_dir, _PAIRS_SCHEMA).select(
            "id_a", "id_b", "jaccard"
        )

    def batch_pairs(self, spark, batch_id: int) -> DataFrame:
        """The pairs one committed batch emitted (empty DataFrame if
        none) — the public accessor consumers use instead of touching
        the store layout (CorpusIngestion's drop decisions read this)."""
        return (
            read_committed(spark, self._pairs_dir, _PAIRS_SCHEMA, before=batch_id + 1)
            .filter(F.col("_batch") == batch_id)
            .select("id_a", "id_b", "jaccard")
        )

    # -- per-batch maintenance ----------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idc = self.id_col

        sh_new = (
            with_shingles(batch_df, self.text_col, id_col=idc)
            .select(F.col(idc).alias("id"), "shingles")
            .persist()
        )
        bands_new = (
            band_keys_long(
                sh_new.select(F.col("id").alias(idc), "shingles"),
                id_col=idc,
                k=self.k,
                bands=self.bands,
            )
            # bk2 = 2-hex band-key prefix: the store's hive partition
            # column (256 cells). The probe join carries bk2 explicitly
            # so dynamic partition pruning can skip store partitions
            # whose prefix no document of the batch hashes into —
            # at corpus scale the per-batch store scan is ~|batch
            # prefixes|/256 of the store, not all of it.
            .withColumn("bk2", F.substring("band_key", 1, 2))
            .persist()
        )

        # new-vs-new: per-bucket self-join inside the batch (shared
        # with the batch pipeline — operators/minhash.py)
        nn = bucket_self_pairs(bands_new.select("id", "band_key"))

        # new-vs-old: the batch's band keys probe the store's buckets
        old = read_committed(
            spark, self._bands_dir, bands_new.select("id", "band_key", "bk2").schema
        ).select(
            F.col("id").alias("id_old"),
            F.col("band_key").alias("bk_old"),
            F.col("bk2").alias("bk2_old"),
        )
        no = (
            bands_new.join(
                old,
                # bk2 equality is implied by band_key equality but
                # stated explicitly: it targets the store's hive
                # partition column, enabling dynamic partition
                # pruning of store partitions no batch doc probes
                (F.col("bk2") == F.col("bk2_old"))
                & (F.col("band_key") == F.col("bk_old")),
            )
            # on checkpoint replay the store already holds THIS
            # batch's fingerprints (idempotent overwrite pending),
            # so a doc can meet itself — drop self-pairs
            .filter(F.col("id") != F.col("id_old"))
            .select(
                F.least(F.col("id"), F.col("id_old")).alias("id_a"),
                F.greatest(F.col("id"), F.col("id_old")).alias("id_b"),
            )
        )
        cands = nn.unionByName(no).distinct()

        # exact verify: shingles come from the batch or the store. The
        # dropDuplicates is replay-critical: after a crash between the
        # store writes and the checkpoint commit, the store already
        # holds THIS batch's (id, shingles) rows, and a duplicated id
        # would fan the verify join out (4 rows per pair, breaking the
        # exactly-once pair log).
        all_sh = sh_new.unionByName(
            read_committed(spark, self._shingles_dir, sh_new.schema).select(
                "id", "shingles"
            )
        ).dropDuplicates(["id"])
        verified = (
            cands.join(
                all_sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
                "id_a",
            )
            .join(
                all_sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                jaccard_column(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= self.threshold)
        )

        # crash-safe commit: each store overwrites this batch's own
        # _batch=<id>/ subdir — replay after a crash anywhere in this
        # sequence rewrites, never duplicates
        idempotent_batch_write(verified, self._pairs_dir, batch_id)
        idempotent_batch_write(
            bands_new, self._bands_dir, batch_id, partition_by=("bk2",)
        )
        idempotent_batch_write(sh_new, self._shingles_dir, batch_id)
        sh_new.unpersist()
        bands_new.unpersist()
