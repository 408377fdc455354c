"""The per-batch store contract in `streaming/sinks.py`: one committed
listing (`committed_batches`) and one committed read (`read_committed`)
that every ``_batch=<id>`` store goes through."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from flink_application_spark.streaming.sinks import (
    committed_batches,
    idempotent_batch_write,
    read_committed,
)


def _mkdir(root, name, committed=True):
    d = os.path.join(root, name)
    os.makedirs(d)
    if committed:
        open(os.path.join(d, "_SUCCESS"), "w").close()
    return d


def test_committed_batches_numeric_order_before_and_negative_ids(tmp_path):
    root = str(tmp_path / "store")
    for name in ("_batch=2", "_batch=10", "_batch=-3"):
        _mkdir(root, name)
    _mkdir(root, "_batch=7", committed=False)
    _mkdir(root, "_batch=-5.tmp")  # compaction scratch, not a batch
    _mkdir(root, "_calibration_sample")

    def ids(before=None):
        return [b for b, _ in committed_batches(root, before)]

    assert ids() == [-3, 2, 10]  # numeric, not lexicographic
    assert committed_batches(root)[0][1] == os.path.join(root, "_batch=-3")
    assert ids(before=10) == [-3, 2]  # exclusive
    assert ids(before=2) == [-3]
    assert ids(before=-3) == []
    assert committed_batches(str(tmp_path / "absent")) == []


def test_read_committed_empty_store_returns_schema_frame(spark, tmp_path):
    root = str(tmp_path / "store")
    got = read_committed(spark, root, "key string, n bigint")
    assert got.count() == 0
    assert got.schema.simpleString() == "struct<key:string,n:bigint,_batch:int>"
    # an uncommitted crash partial is not a committed dir
    idempotent_batch_write(spark.range(3), root, 0)
    os.remove(os.path.join(root, "_batch=0", "_SUCCESS"))
    assert read_committed(spark, root, "id bigint").count() == 0


def test_read_committed_success_only_dir_adds_no_rows(spark, tmp_path):
    root = str(tmp_path / "store")
    rows = spark.range(4).select(F.col("id"), (F.col("id") % 2).alias("p"))
    # a partitioned empty write commits a dir holding only _SUCCESS
    idempotent_batch_write(rows.limit(0), root, 0, partition_by=("p",))
    b0 = os.path.join(root, "_batch=0")
    assert os.path.exists(os.path.join(b0, "_SUCCESS"))
    assert not glob.glob(os.path.join(b0, "**", "*.parquet"), recursive=True)
    assert read_committed(spark, root, "id bigint, p bigint").count() == 0
    idempotent_batch_write(rows, root, 1, partition_by=("p",))
    got = read_committed(spark, root, "id bigint, p bigint")
    assert sorted((r["id"], r["p"], r["_batch"]) for r in got.collect()) == [
        (i, i % 2, 1) for i in range(4)
    ]
    assert read_committed(spark, root, "id bigint, p bigint", before=1).count() == 0


def test_read_committed_nested_partitions_match_root_read(spark, tmp_path):
    root = str(tmp_path / "sink")
    rows = spark.range(12).select(
        F.col("id"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1).cast("string")).alias(
            "event_date"
        ),
        (F.col("id") % 2).cast("string").alias("probe"),
    )
    for b in range(3):
        idempotent_batch_write(
            rows.filter(F.col("id") % 3 == b),
            root,
            b,
            partition_by=("event_date", "probe"),
        )
    os.remove(os.path.join(root, "_batch=2", "_SUCCESS"))
    got = read_committed(spark, root)
    bare = spark.read.parquet(root).filter(F.col("_batch") < 2)
    assert got.schema == bare.schema
    assert {"_batch", "event_date", "probe"} <= set(got.columns)
    assert sorted(got.collect()) == sorted(bare.collect())
    assert sorted(r["_batch"] for r in got.select("_batch").distinct().collect()) == [
        0,
        1,
    ]
