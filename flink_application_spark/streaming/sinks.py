"""Streaming sinks + runner policies (SURVEY §2.1 S4/S5/S6, §2.6 R1/R4).

Reference sink surface: labeled console print (EnrichmentApp.java:
97-103), partitioned parquet on HDFS with a rolling policy
(EnrichmentApp.java:183-204: PARTITIONED BY (event_date, probe),
file-size 110 MB / check 5 s / rollover 20 s; flink.conf:51-59), two
INSERTs into one sink table (EnrichmentAppWithoutExplode.java:103-104),
checkpointing every 180 s (EnrichmentApp.java:48).

Spark mapping: the micro-batch trigger plays the rollover-interval
role (one file per partition per batch); `maxRecordsPerFile`
approximates the size cap; `checkpointLocation` is per-query exactly
like Flink's per-job checkpoint path. Two-queries-one-path fights over
the committer, so multi-sink fan-in is union-before-write (R4): the
enrichment's two paths meet in one ``unionByName`` before the sink
(streaming/pipeline.py).

Per-batch store contract (the analogue of Flink's checkpointed
operator state, EnrichmentApp.java:48): every ``_batch=<id>`` store
commits a micro-batch with `idempotent_batch_write`, reads only what
`committed_batches` lists (`read_committed` for a merged read, the
last entry for a snapshot) and attaches through `BatchStore.attach`.
A reader never sees a crash partial, and a replay lands on the state
of an uninterrupted run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def trigger_kwargs(trigger: str | None) -> dict:
    """``DataStreamWriter.trigger`` kwargs: a processing-time interval,
    or availableNow for None, "" and "availableNow"."""
    if not trigger or trigger == "availableNow":
        return {"availableNow": True}
    return {"processingTime": trigger}


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = ("event_date", "probe"),
    trigger: str | None = "20 seconds",
    max_records_per_file: int | None = None,
    query_name: str = "parquet_sink",
) -> StreamingQuery:
    """S4: partitioned parquet sink with trigger + checkpoint."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_by)
        .queryName(query_name)
        .trigger(**trigger_kwargs(trigger))
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    return writer.start()


def idempotent_batch_write(
    batch_df: DataFrame,
    root: str,
    batch_id: int,
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
) -> str:
    """Crash-safe foreachBatch commit: the batch lands in its own
    hive-style ``_batch=<id>/`` subdirectory with ``mode("overwrite")``.

    A checkpoint-replayed micro-batch — whether the previous attempt
    wrote nothing, some files, or everything — simply overwrites its
    own subdirectory, so the sink never holds duplicate rows for a
    batch REGARDLESS of where a crash landed. (A marker-file scheme is
    not crash-safe: marker-after-write duplicates on a crash between
    the two, marker-before-write loses data.) Readers see ``_batch``
    as an ordinary partition column via partition discovery.

    Returns the batch subdirectory path (for per-batch bookkeeping)."""
    import os

    sub = os.path.join(root, f"_batch={batch_id}")
    if partition_by:
        # cluster rows by partition value first: without this every
        # write task opens a file in EVERY hive cell it sees (tasks ×
        # cells tiny files — measured 24 s for a 20k-row 256-cell band
        # store). Capping the shuffle at defaultParallelism keeps task
        # count bounded while still giving each cell a single writer
        # (one task handles several whole cells sequentially).
        n = batch_df.sparkSession.sparkContext.defaultParallelism
        batch_df = batch_df.repartition(n, *[batch_df[c] for c in partition_by])
    writer = batch_df.write
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode("overwrite").parquet(sub)
    return sub


def committed_batches(root: str, before: int | None = None) -> list[tuple[int, str]]:
    """``(id, dir)`` of every ``_batch=<id>`` subdirectory bearing
    Spark's ``_SUCCESS`` commit marker, in numeric id order (ids are
    signed: `compact_batches` folds into negative ones); with
    ``before``, only ids strictly below it.

    The read-side half of ``idempotent_batch_write``'s crash-safety
    contract and the ONE listing every per-batch store reads through.
    A crash mid-write leaves a partial ``_batch`` dir whose parquet
    files would read as a silently-short batch; the replay overwrites
    it, but a read BETWEEN crash and restart must not see it."""
    import os

    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        key, _, val = name.partition("=")
        d = os.path.join(root, name)
        if key != "_batch" or not os.path.exists(os.path.join(d, "_SUCCESS")):
            continue
        try:
            bid = int(val)
        except ValueError:  # not a batch id, e.g. compaction's `.tmp` dir
            continue
        if before is None or bid < before:
            out.append((bid, d))
    return sorted(out)


def read_committed(
    spark, root: str, schema=None, *, before: int | None = None
) -> DataFrame:
    """ONE read over the committed batch dirs of `committed_batches`
    (``before`` exclusive). ``basePath`` keeps partition discovery
    anchored at ``root``, so ``_batch`` and any hive columns below it
    come out as ``spark.read.parquet(root)`` would give them.

    A committed dir holding no data file (an empty batch written with
    ``partition_by``) contributes no rows. With nothing to read, the
    result is an empty frame of ``schema`` (DDL string or StructType)
    plus ``_batch``; without a schema, Spark's own schema-inference
    error surfaces, as a bare read of an empty store would."""
    import glob
    import os

    from pyspark.sql import functions as F

    dirs = [d for _, d in committed_batches(root, before)]
    if schema is not None and not any(
        glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True) for d in dirs
    ):
        empty = spark.createDataFrame([], schema)
        return empty.withColumn("_batch", F.lit(None).cast("int"))
    return spark.read.option("basePath", root).parquet(*dirs)


class BatchStore:
    """Base of every ``_batch=<id>`` streaming store: subclasses define
    ``process_batch(batch_df, batch_id)`` (commit through
    `idempotent_batch_write`, read through `read_committed`) and share
    this one streaming attachment."""

    def attach(self, stream_df: DataFrame, checkpoint: str) -> StreamingQuery:
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )


def _partition_keys(batch_dir: str) -> list[str]:
    """Hive partition-key chain under one ``_batch`` dir (outermost
    first) — how compact_batches learns a store's current layout."""
    import os

    keys, cur = [], batch_dir
    while os.path.isdir(cur):
        subs = sorted(
            d for d in os.listdir(cur) if "=" in d and os.path.isdir(os.path.join(cur, d))
        )
        if not subs:
            break
        keys.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])
    return keys


def compact_batches(
    spark,
    root: str,
    *,
    min_live_batch: int,
    combine: dict[str, str] | None = None,
    group_cols: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
) -> int:
    """Fold all ``_batch=<id>`` partitions with id < ``min_live_batch``
    into one consolidated partition — the file-count control an
    additive per-batch store needs at scale (a year of minute
    triggers is ~500k tiny partitions without it).

    Safety contract: only batches the streaming checkpoint has
    durably COMMITTED may be compacted (a replayed live batch must
    still find its own partition to overwrite — pass the query's last
    committed batch id as ``min_live_batch``). The consolidated rows
    land in ``_batch=<min_live_batch * -1 - 1>`` (a negative id no
    real batch can collide with, distinct per compaction horizon);
    prior consolidated partitions are re-absorbed by each compaction.

    ``combine``: aggregation per value column (e.g. ``{"c": "sum"}``)
    with ``group_cols`` as keys — the additive-merge that keeps the
    consolidated partial semantically identical to the batches it
    replaces. With ``combine=None`` rows are concatenated unchanged
    (event stores). Returns the number of partitions absorbed.

    ``partition_by`` (event-sink mode, round-8): for the size-rolled
    EVENT sink (`write_partitioned_parquet_size_rolled`, whose layout
    is ``_batch=N/event_date=…/probe=…``), per-batch-per-task writes
    leave one ~10 KB file per (batch × task × user-partition) at small
    batch sizes. Passing the user partition columns re-writes the
    consolidated rows PARTITIONED BY them (one writer task → one file
    per partition dir, optionally re-rolled via
    ``max_records_per_file``), so downstream partition pruning is
    preserved while the file count collapses to ~the user-partition
    cardinality. In this mode a SINGLE committed batch is already
    worth folding (the fan-out is within the batch, not across)."""
    import glob as _glob
    import os
    import shutil

    from pyspark.sql import functions as F

    # Crash recovery BEFORE scanning fold targets: `.compact_old` is
    # the prior consolidated dir moved aside mid-swap. If any
    # committed negative-id (consolidated) dir exists, the swap
    # completed and the aside rows are already folded — debris, drop
    # it. If NONE exists, the crash landed between the two swap
    # renames and the aside holds the ONLY copy of previously
    # consolidated rows — resurface it under a fresh negative batch
    # id so this run (and `_batch=*` readers meanwhile) fold it back
    # in instead of losing it (round-10 ADVICE).
    aside = os.path.join(root, ".compact_old")
    if os.path.exists(aside):
        neg_committed = [
            p
            for p in _glob.glob(os.path.join(root, "_batch=-*"))
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        ]
        if neg_committed:
            shutil.rmtree(aside)
        else:
            rescue_bid = -min_live_batch - 2
            while os.path.exists(os.path.join(root, f"_batch={rescue_bid}")):
                rescue_bid -= 1
            os.rename(aside, os.path.join(root, f"_batch={rescue_bid}"))

    olds, live = [], []
    for p in sorted(_glob.glob(os.path.join(root, "_batch=*"))):
        try:
            bid = int(os.path.basename(p).split("=", 1)[1])
        except ValueError:
            continue
        if bid >= min_live_batch:
            live.append(p)
        # fold only COMMITTED batches (the committed_batch_dirs
        # _SUCCESS check): an uncommitted crash-partial directory
        # below the horizon must stay invisible until its replay
        # overwrites it — folding it would make partial data
        # permanent (round-8 ADVICE; the single-batch event-sink
        # mode removed the accidental two-committed-batches guard)
        elif os.path.exists(os.path.join(p, "_SUCCESS")):
            olds.append((bid, p))
    consolidated = os.path.join(root, f"_batch={-min_live_batch - 1}")
    if len(olds) < (1 if partition_by else 2):
        return 0  # nothing worth folding
    if all(p == consolidated for _, p in olds) and list(
        partition_by
    ) == _partition_keys(consolidated):
        # Re-run at an unchanged horizon with nothing new below it and
        # no layout change: the only fold target is the current
        # consolidated dir itself, already in the requested shape.
        # Rewriting it would report a phantom absorb and briefly
        # expose readers to a partial store for zero gain (round-9
        # ADVICE). A DIFFERENT partition_by is real work (the
        # coarsen-on-compact path) and still proceeds.
        return 0
    if partition_by and live:
        # Coarsen-on-compact (partition_by narrower than the sink's
        # per-batch layout) changes the consolidated dir's partition
        # depth; a later spark.read.parquet(root) over MIXED depths
        # throws CONFLICTING_DIRECTORY_STRUCTURES. Safe only when the
        # requested layout matches the live batches' layout — refuse
        # otherwise rather than corrupt the store's readability
        # (round-8 ADVICE; bench/tests fold ALL batches so never live
        # through this).
        sink_keys = _partition_keys(olds[0][1])
        if list(partition_by) != sink_keys:
            raise ValueError(
                f"compact_batches: partition_by {list(partition_by)} differs "
                f"from the sink layout {sink_keys} while live batch dirs "
                f"remain ({len(live)}) — coarsening would leave mixed "
                "partition depths under one root; compact with the full "
                "layout or raise min_live_batch past every live batch"
            )
    # basePath anchors partition discovery when batch dirs carry user
    # partition subdirs (event-sink layout); it also surfaces _batch
    # as a column — dropped to keep the consolidated schema identical
    # to the flat-store behavior
    df = (
        spark.read.option("basePath", root)
        .parquet(*[p for _, p in olds])
        .drop("_batch")
    )
    if combine:
        df = df.groupBy(*group_cols).agg(
            *[getattr(F, fn)(c).alias(c) for c, fn in combine.items()]
        )
    tmp = consolidated + ".tmp"
    if partition_by:
        writer = df.coalesce(1).write.mode("overwrite").partitionBy(*partition_by)
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(tmp)
    else:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
    # absorb-then-swap: readers between the rm and the rename could
    # see a partial store, so swap the consolidated dir in FIRST,
    # then drop the absorbed partitions (transient double-count beats
    # transient data loss for monitoring stores; exact readers should
    # compact offline). When the prior consolidated dir is itself a
    # fold target (same horizon, new data below it), move it ASIDE
    # with a rename — two renames narrow the hidden-rows window to
    # microseconds vs an O(files) rmtree (round-9 ADVICE). The aside
    # name carries no `_batch=` prefix so a crash between the renames
    # can never surface it to `_batch=*` readers as a live partition.
    aside = os.path.join(root, ".compact_old")
    if os.path.exists(aside):  # crash debris from a prior swap
        shutil.rmtree(aside)
    if os.path.exists(consolidated):
        os.rename(consolidated, aside)
    os.rename(tmp, consolidated)
    if os.path.exists(aside):
        shutil.rmtree(aside)
    for _, p in olds:
        if p != consolidated:
            shutil.rmtree(p)
    return len(olds)


def vacuum_snapshots(root: str, *, min_live_batch: int, keep_last: int = 1) -> int:
    """Maintenance for SNAPSHOT stores (StreamingComponents' mapping,
    PackingStream's cursor): each ``_batch=<id>`` there is a FULL
    snapshot superseding every earlier one, so compaction is simply
    deletion — keep the newest ``keep_last`` committed snapshots below
    ``min_live_batch`` and drop the rest. (`compact_batches` is the
    ADDITIVE-store fold; folding snapshots would double-count.)

    Safety contract mirrors compact_batches: only batches the
    streaming checkpoint has durably committed may be vacuumed — a
    replayed live batch reads the latest snapshot strictly BEFORE
    itself, so `min_live_batch` must be the query's last committed
    batch id. Uncommitted (crash-partial) directories below the
    horizon are dropped too — nothing can ever read them. Returns the
    number of directories removed."""
    import glob as _glob
    import os
    import shutil

    snaps = []
    for p in sorted(_glob.glob(os.path.join(root, "_batch=*"))):
        try:
            bid = int(os.path.basename(p).split("=", 1)[1])
        except ValueError:
            continue
        if bid < min_live_batch:
            committed = os.path.exists(os.path.join(p, "_SUCCESS"))
            snaps.append((bid, p, committed))
    snaps.sort()
    keep = {p for _, p, c in [s for s in snaps if s[2]][-keep_last:]}
    removed = 0
    for _, p, _c in snaps:
        if p not in keep:
            shutil.rmtree(p)
            removed += 1
    return removed


class SizeCalibratedRoller:
    """foreachBatch writer that approximates a byte-size rolling policy
    (flink.conf:54-55: sink.rolling-policy.file-size = 110 MB).

    Spark's parquet writer rolls on RECORD count (`maxRecordsPerFile`),
    not bytes, so the cap is enforced by calibration. The FIRST batch
    pre-calibrates by writing a small sample of itself to a scratch
    subdirectory and measuring encoded bytes-per-row (so the byte
    ceiling holds even for very wide rows — no record-count guess is
    trusted); every subsequent batch refines the estimate from the parquet
    footers it just produced (pyarrow metadata — footer-only reads,
    incremental: only the new batch's files are opened, so per-batch
    overhead stays O(files-per-batch) for the stream's lifetime).

    Restart semantics: each batch overwrites its own ``_batch=<id>``
    subdirectory via `idempotent_batch_write` — replays are exact
    overwrites, never appends, at any crash point."""

    def __init__(
        self,
        path: str,
        partition_by: tuple[str, ...],
        target_file_bytes: int,
        initial_records_per_file: int | None = None,
        headroom: float = 0.9,
        calibration_sample_rows: int = 256,
    ) -> None:
        self.path = path
        self.partition_by = partition_by
        self.target = target_file_bytes
        self.max_records = initial_records_per_file  # None → sample-calibrate
        self.headroom = headroom
        self.sample_rows = calibration_sample_rows
        self._total_bytes = 0
        self._total_rows = 0

    @staticmethod
    def _footer_stats(path: str) -> tuple[int, int]:
        import os

        import pyarrow.parquet as pq

        total_bytes = 0
        total_rows = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                total_bytes += os.path.getsize(full)
                total_rows += pq.ParquetFile(full).metadata.num_rows
        return total_bytes, total_rows

    def _absorb(self, batch_dir: str) -> None:
        b, r = self._footer_stats(batch_dir)
        self._total_bytes += b
        self._total_rows += r
        if self._total_rows:
            bytes_per_row = max(self._total_bytes / self._total_rows, 1e-9)
            self.max_records = max(1, int(self.target * self.headroom / bytes_per_row))

    def _sample_calibrate(self, batch_df: DataFrame) -> None:
        """Measure encoded bytes-per-row on a small sample BEFORE the
        first real write, so the ceiling holds from batch 0."""
        import os
        import shutil

        scratch = os.path.join(self.path, "_calibration_sample")
        batch_df.limit(self.sample_rows).write.mode("overwrite").parquet(scratch)
        b, r = self._footer_stats(scratch)
        shutil.rmtree(scratch, ignore_errors=True)
        if r:
            # small samples overweigh the fixed footer; still a safe
            # (over-)estimate of bytes/row → an under-estimate of the cap
            self.max_records = max(1, int(self.target * self.headroom / (b / r)))
        else:
            self.max_records = 1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        first = self.max_records is None
        if first:
            # the calibration sample re-evaluates the micro-batch plan
            # (limit() does not avoid upstream aggregations — the
            # enrichment's session-window agg ran TWICE on batch 0, the
            # whole stream for availableNow runs). Persist for the
            # sample + real write, release immediately; later batches
            # calibrate from footers and never pay this.
            batch_df = batch_df.persist()
            self._sample_calibrate(batch_df)
        sub = idempotent_batch_write(
            batch_df,
            self.path,
            batch_id,
            partition_by=self.partition_by,
            max_records_per_file=self.max_records,
        )
        if first:
            batch_df.unpersist()
        self._absorb(sub)


def write_partitioned_parquet_size_rolled(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = ("event_date", "probe"),
    target_file_bytes: int = 110 * 1024 * 1024,
    initial_records_per_file: int | None = None,
    trigger: str | None = None,
    query_name: str = "parquet_sink_size_rolled",
) -> StreamingQuery:
    """S4 with the byte-size rolling policy: every produced file stays
    under `target_file_bytes`. The first batch sample-calibrates the
    record cap from actual encoded bytes-per-row (pass
    `initial_records_per_file` to skip the sample write if the row
    width is known); later batches refine it from their own footers.
    Output is partitioned by `_batch` (crash-safe replay) then the
    user partitions."""
    roller = SizeCalibratedRoller(
        path, partition_by, target_file_bytes, initial_records_per_file
    )
    return (
        df.writeStream.foreachBatch(roller)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(**trigger_kwargs(trigger))
        .start()
    )


def write_console(
    df: DataFrame, label: str, trigger: str | None = None, num_rows: int = 20
) -> StreamingQuery:
    """S5: labeled console sink (print names 'immediately_known...' etc.,
    EnrichmentApp.java:97-103)."""
    return (
        df.writeStream.format("console")
        .queryName(label)
        .option("numRows", num_rows)
        .option("truncate", "false")
        .trigger(**trigger_kwargs(trigger))
        .start()
    )


def write_memory(
    df: DataFrame, table_name: str, trigger: str | None = None
) -> StreamingQuery:
    """Test sink: results land in an in-memory table (batch≡stream
    equivalence checks read it back with spark.table)."""
    return (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append" if not _has_aggregation(df) else "complete")
        .trigger(**trigger_kwargs(trigger))
        .start()
    )


def _has_aggregation(df: DataFrame) -> bool:
    # session-window aggregations with watermark support append mode;
    # detect plain (un-watermarked) aggregates that need complete mode.
    plan = df._jdf.queryExecution().logical().toString()
    return "Aggregate" in plan and "EventTimeWatermark" not in plan


def with_pipeline_metrics(df: DataFrame, name: str = "pipeline_metrics") -> DataFrame:
    """Attach per-micro-batch observability counters (`df.observe`):
    row count and null-enrichment count, surfaced on every
    StreamingQueryProgress under `observedMetrics[name]` — the Spark
    analogue of the reference's labeled console sinks + Flink metric
    groups (EnrichmentApp.java:97-103 is its only observability).
    Metrics ride the existing plan (an extra CollectMetrics node, no
    second pass / no extra shuffle) and work identically in batch via
    the QueryExecutionListener."""
    from pyspark.sql import functions as F

    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("msisdn").isNull(), 1)).alias("n_unenriched_msisdn"),
    )
