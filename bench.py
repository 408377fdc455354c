#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + count) in a warm
session; the parquet scan is NOT cached between queries, so each
number includes its own IO — the same shape a cold cluster run has.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    # reference pipeline
    "cdr_enrichment_full",
    # TPC-H-ish SQL surface
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q10_returned_items",
    "window_topn_per_group",
    "events_sessionization",
    # LLM-data-pipeline operators
    "doc_exact_dedup_groups",
    "doc_near_dup_pairs_minhash_lsh",
    "doc_dedup_pipeline_stats",
    "doc_quality_scores",
    "doc_pii_redaction",
    "doc_bm25_search",
    "doc_jaccard_similarity_join",
    "emb_cosine_topk_bruteforce",
    "emb_pca_gram",
    # round-2 additions: curation-pipeline flagships
    "corpus_curation_funnel",
    "doc_bigram_lm_score",
    "emb_kmeans_assign",
    # the CEP automaton (pattern matching over 100k events)
    "events_cep_funnel_matches",
    # round-2 additions: curation + tokenizer-prep flagships
    "emb_semdedup_flags",
    "doc_dsir_log_weights",
    "doc_chunk_windows",
    "vocab_bpe_pair_counts",
    "doc_winnowing_fingerprints",
    "emb_ivfadc_topk",
    # round-3 additions: ANN scale twin, sketch audit, Neyman sampler
    "emb_knn_classify_ann",
    "doc_minhash_estimate_vs_exact",
    "doc_stratified_sample_neyman",
    # round-4: the honest quantization config (trained codebooks) timed
    # alongside the seeded emb_ivfadc_topk it must stay within 1.5× of
    "emb_ivfadc_trained_topk",
    # round-4: the probe-sweep eval must stay ~one-retrieval cheap —
    # that's its whole design claim (one scoring pass for all levels)
    "emb_ivf_recall_curve",
    # round-5: the materializing keep-first scrub (the actual corpus
    # rewrite, heaviest new op) and the funnel latency percentiles
    "doc_segment_dedup_scrub",
    "events_funnel_time_to_convert",
    # round-6: the sequence-packing flagship (two-phase prefix sum +
    # span explode — the training-layout planner); budget recovered by
    # moving static methodology keys off the stdout line
    "corpus_pack_spans",
    # NOT added: emb_lsh_multiprobe_topk — its bounded-candidate-cost
    # claim is pinned by tests/test_similarity.py and the
    # emb_multiprobe_recall_curve query instead. Headline growth is
    # budgeted by test_headline_growth_headroom (trips 5 entries before
    # the stdout line sheds queries) — keep it green when adding here.
]


def stream_throughput(
    spark, sf_dir: str
) -> tuple[float, int, float, float, dict]:
    """End-to-end Structured Streaming throughput of the reference
    pipeline (SURVEY §6: the reference's only throughput operating
    point is its generator's 10 events/sec — we record events/sec at
    saturation instead). Snapshot the CDR fixture to parquet (untimed),
    then time TWO availableNow file-stream runs of the FULL streaming
    enrichment (stream-static lookup join, explode, theta as-of join,
    session-window arg-max dedup):

    1. memory sink — pure pipeline saturation, directly comparable
       with the r01/r02 recorded numbers (same sink shape);
    2. SIZE-ROLLED partitioned parquet sink — the reference's
       production sink shape (S4 + byte rolling), so the wall includes
       real sink IO and the 110 MB ceiling is exercised at bench scale
       (round-2 verdict item 7).

    Returns (mem_wall, events, sink_wall, max_sink_file_mb,
    compact_stats) — the last a dict of pre/post compaction file
    counts from folding the event sink's per-batch fan-out. A
    far-future sentinel row advances the watermark so every real
    session flushes before the run ends (same pattern as
    tests/test_streaming.py)."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_application_spark.plans.cdr import cdr_views
    from flink_application_spark.sources.streams import file_stream
    from flink_application_spark.streaming.pipeline import streaming_enrichment
    from flink_application_spark.streaming.sinks import (
        write_memory,
        write_partitioned_parquet_size_rolled,
    )

    root = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        v = cdr_views(spark, sf_dir)
        src = v["cdr_src"].withColumn(
            "start_time", F.col("start_time").cast("timestamp")
        )
        src.write.parquet(f"{root}/src")
        sentinel = spark.sql(
            """SELECT CAST('2099-01-01 00:00:00' AS TIMESTAMP) AS start_time,
                      'zz-sentinel' AS measuring_probe_name,
                      CAST(NULL AS BIGINT) AS imsi, CAST(NULL AS BIGINT) AS msisdn,
                      ';0.0.0.0;' AS ms_ip_address, CAST(-1 AS BIGINT) AS unique_cdr_id"""
        )
        sentinel.write.mode("append").parquet(f"{root}/src")
        imsi_msisdn = v["imsi_msisdn"].persist()
        ms_ip = v["ms_ip"].withColumn(
            "start_time", F.col("start_time").cast("timestamp")
        ).persist()
        imsi_msisdn.count()  # materialize dim caches before timing
        ms_ip.count()
        n_events = src.count()

        def _pipeline():
            return streaming_enrichment(
                file_stream(spark, f"{root}/src"),
                imsi_msisdn,
                ms_ip,
                gap="1 hour",
                watermark_delay="0 seconds",
            )

        # run 1: memory sink (r01/r02-comparable saturation number)
        t0 = time.perf_counter()
        q = write_memory(_pipeline(), "bench_stream_out")
        q.awaitTermination(300)
        mem_wall = time.perf_counter() - t0
        assert spark.table("bench_stream_out").count() > 0

        # run 2: production sink shape with real IO + byte rolling
        t0 = time.perf_counter()
        q = write_partitioned_parquet_size_rolled(
            _pipeline(),
            f"{root}/sink",
            checkpoint=f"{root}/ckpt",
            partition_by=("event_date", "probe"),
            target_file_bytes=110 * 1024 * 1024,
        )
        q.awaitTermination(300)
        n_out = spark.read.parquet(f"{root}/sink").count()
        sink_wall = time.perf_counter() - t0
        assert n_out > 0
        sink_files = glob.glob(f"{root}/sink/**/*.parquet", recursive=True)
        max_file_mb = max(os.path.getsize(p) for p in sink_files) / (1024 * 1024)

        # post-ingest small-file compaction (round-7 verdict item 6):
        # at bench event sizes the size-rolled sink leaves one ~5 KB
        # file per (batch × date × probe) — ~450 probe cells of a few
        # KB each, exactly the regime compact_batches' event-sink mode
        # exists for. Compaction re-partitions to the pruning axis
        # that matters at this volume (event_date — the retention/scan
        # key; probe folds into file contents as an ordinary column) —
        # the classic coarsen-on-compact pattern for over-partitioned
        # small data. Untimed maintenance (runs after sink_wall is
        # taken); row count must be invariant.
        from flink_application_spark.streaming.sinks import (
            committed_batches,
            compact_batches,
        )

        max_bid = committed_batches(f"{root}/sink")[-1][0]
        compact_batches(
            spark,
            f"{root}/sink",
            min_live_batch=max_bid + 1,
            partition_by=("event_date",),
        )
        post_files = glob.glob(f"{root}/sink/**/*.parquet", recursive=True)
        post_max_mb = max(os.path.getsize(p) for p in post_files) / (1024 * 1024)
        n_post = spark.read.parquet(f"{root}/sink").count()
        assert n_post == n_out, (n_post, n_out)
        compact_stats = {
            "pre_compact_files": len(sink_files),
            "post_compact_files": len(post_files),
            "post_compact_max_mb": round(post_max_mb, 2),
        }
        imsi_msisdn.unpersist()
        ms_ip.unpersist()
        return mem_wall, n_events, sink_wall, round(max_file_mb, 2), compact_stats
    finally:
        shutil.rmtree(root, ignore_errors=True)


def ingest_throughput(spark, sf_dir: str) -> tuple[float, int]:
    """Saturation throughput of the streaming corpus-ingestion pipeline
    (quality gate → cross-batch LSH near-dup index probe → size-capped
    shard writes, all crash-safe per-batch overwrite commits) — the
    LLM-pipeline counterpart of the CDR stream number. Documents are
    snapshotted to a drop directory (untimed), then one availableNow
    run ingests them; docs/sec includes index maintenance and shard IO."""
    import shutil
    import tempfile

    from flink_application_spark.catalog import register_views
    from flink_application_spark.sources.streams import file_stream
    from flink_application_spark.streaming.ingestion import CorpusIngestion

    root = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        docs = register_views(spark, sf_dir, tables=("documents",))["documents"]
        docs.select("doc_id", "text").write.parquet(f"{root}/drop")
        n_docs = docs.count()

        ing = CorpusIngestion(
            f"{root}/work",
            min_quality=0.2,
            near_dup_threshold=0.8,
            target_file_bytes=8 * 1024 * 1024,
        )
        t0 = time.perf_counter()
        q = ing.attach(
            file_stream(spark, f"{root}/drop"), checkpoint=f"{root}/ckpt"
        )
        q.awaitTermination(300)
        wall = time.perf_counter() - t0
        assert ing.shards(spark).count() > 0
        return wall, n_docs
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Event-volume replication for the flinkconf parity metric (round-10
# verdict item 6): the 1× workload's 5-12 s wall made events/sec a
# small-denominator metric with a 2.2× historical noise band (18.9k
# r07 -> 8.5k r08 -> 18.2k r09 -> 10.5k r10 on byte-identical code
# paths). Measured marginal rate is ~100k events/s at sf0.1 on top of
# ~4-5 s of fixed trigger/startup overhead (6× only reached a 6.1 s
# wall; 30× measured 17.4 s at a ~172k ev/s warm marginal rate), so 60
# replicas put the timed wall past ~30 s and make the metric
# marginal-rate-dominated. Replicas shift unique_cdr_id only — same
# keys, same sessions, 60× the scoring/join/window work, which is what
# a throughput denominator should count. NOT comparable to pre-r11
# absolute events/sec (the workload changed); the replica count is
# recorded in BENCH_LOCAL.
FC_REPLICAS = 60


def flinkconf_throughput(
    spark, sf_dir: str, exercise_compaction: bool = False
) -> tuple[float, int, dict]:
    """The reference-parity runtime path, timed (round-6 verdict item
    8): `app.run` with the reference's VERBATIM flink.conf — HOCON
    parse → translation → RefreshingDim TTL foreachBatch (the dims
    carry 60 s partial-cache TTLs) → size-rolled idempotent parquet
    sink (fileSize = 110MB) — with hermetic overrides swapping ONLY
    the env-blocked endpoints (Kafka/Postgres/HDFS) for local files.
    Everything else (partition columns, rolling size, cache TTLs,
    checkpoint interval) comes from the reference's own file. Returns
    (wall, n_events, compact_stats); events/sec should sit within ~2×
    of stream_sink_events_per_sec (same data volume, same sink shape —
    the delta is the TTL-cache batch path vs the continuous plan).

    ``exercise_compaction`` (round-9 verdict item 6, untimed vs the
    throughput wall): push one extra tiny wave through the same
    checkpoint, then run the config-gated `app.compact_sink`
    maintenance hook (Flink's filesystem-sink `auto-compaction`
    option) and record the fold — the size-rolled TTL sink's
    low-event-rate tiny-file regime, actively managed on the parity
    path like the event sink's compact_batches key."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_application_spark.app import flink_conf_to_config, run
    from flink_application_spark.hocon import parse_hocon_file
    from flink_application_spark.plans.cdr import cdr_views

    root = tempfile.mkdtemp(prefix="bench_flinkconf_")
    try:
        v = cdr_views(spark, sf_dir)
        src = v["cdr_src"].withColumn(
            "start_time", F.col("start_time").cast("timestamp")
        )
        for rep in range(FC_REPLICAS):
            src.withColumn(
                "unique_cdr_id", F.col("unique_cdr_id") + F.lit(rep * 100_000_000)
            ).write.mode("append").parquet(f"{root}/src")
        v["imsi_msisdn"].write.parquet(f"{root}/imsi_msisdn")
        v["ms_ip"].withColumn(
            "start_time", F.col("start_time").cast("timestamp")
        ).write.parquet(f"{root}/ms_ip")
        n_events = spark.read.parquet(f"{root}/src").count()  # all replicas
        cfg = flink_conf_to_config(
            parse_hocon_file("/root/reference/src/main/resources/flink.conf"),
            overrides={
                "source": {
                    "kafka": None,
                    "format": "parquet",
                    "path": f"{root}/src",
                },
                "dims": {
                    "imsi_msisdn": {"parquet_fallback": f"{root}/imsi_msisdn"},
                    "ms_ip": {"parquet_fallback": f"{root}/ms_ip"},
                },
                "dedup": {"gap": "1 hour"},
                "sink": {
                    "path": f"{root}/sink",
                    "checkpoint": f"{root}/ckpt",
                    "trigger": None,  # availableNow
                },
            },
        )
        t0 = time.perf_counter()
        q = run(spark, cfg)
        # 60x events: a slow box's wall can pass 100 s — give the
        # availableNow query real headroom (a timeout return here
        # would leave it running into the next timed run)
        q.awaitTermination(600)
        n_out = spark.read.parquet(f"{root}/sink").count()
        wall = time.perf_counter() - t0
        assert n_out > 0
        comp: dict = {}
        if exercise_compaction:
            import glob as _glob
            import time as _time

            from flink_application_spark.app import compact_sink

            # Three low-rate appends → three tiny committed batches.
            # ONE old batch folds to the same file count it already
            # has (coalesce(1)+partitionBy writes exactly one file per
            # partition combo, and a single availableNow batch already
            # sits at that floor — r09 recorded pre == post == 460 and
            # proved nothing). The hook's purpose is MULTI-batch
            # absorption, so give it several batches below the horizon
            # and require a real net file-count drop.
            for _ in range(3):
                _time.sleep(1.2)  # file-stream batch order is modTime-based
                src.limit(32).write.mode("append").parquet(f"{root}/src")
                qi = run(spark, cfg)
                qi.awaitTermination(300)
            sink_dir = f"{root}/sink"
            pre = len(_glob.glob(f"{sink_dir}/**/*.parquet", recursive=True))
            n_before = (
                spark.read.option("basePath", sink_dir).parquet(sink_dir).count()
            )
            cfg["sink"]["auto-compaction"] = True
            t1 = time.perf_counter()
            absorbed = compact_sink(spark, cfg)
            comp_wall = time.perf_counter() - t1
            post = len(_glob.glob(f"{sink_dir}/**/*.parquet", recursive=True))
            consolidated = len(
                _glob.glob(f"{sink_dir}/_batch=-*/**/*.parquet", recursive=True)
            )
            n_after = (
                spark.read.option("basePath", sink_dir).parquet(sink_dir).count()
            )
            assert absorbed >= 2, f"hook folded {absorbed} batches, wanted >= 2"
            assert post < pre, f"no net file reduction: {pre} -> {post}"
            assert n_after == n_before, (n_before, n_after)  # rows invariant
            comp = {
                "flinkconf_compact_absorbed": absorbed,
                "flinkconf_compact_files_pre": pre,
                "flinkconf_compact_files_post": post,
                "flinkconf_compact_files_consolidated": consolidated,
                "flinkconf_compact_wall_sec": round(comp_wall, 3),
            }
        return wall, n_events, comp
    finally:
        shutil.rmtree(root, ignore_errors=True)


def roll_ceiling_proof(spark) -> tuple[float, float, int, float]:
    """Exercise the size-rolled sink's REAL 110 MB ceiling (flink.conf
    54-55). Every prior recorded run rolled at 0.01 MB — three orders
    of magnitude under the contract — so the bytes-per-row calibration
    was unproven where it matters. Synthesize ~250 MB of INCOMPRESSIBLE
    rows (concatenated unhex(md5) binaries — snappy can't shrink them,
    so encoded size ≈ raw size) in ONE logical partition, stream them
    through write_partitioned_parquet_size_rolled at the full 110 MB
    target, and record (max_file_mb, total_mb, n_files, wall). The
    ceiling holds iff max_file_mb ≤ 110 with n_files > 1 (≥2 rolls).
    """
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_application_spark.sources.streams import file_stream
    from flink_application_spark.streaming.sinks import (
        write_partitioned_parquet_size_rolled,
    )

    root = tempfile.mkdtemp(prefix="bench_roll_")
    try:
        # 50k rows × 320 md5 digests × 16 B = ~256 MB of full-entropy
        # payload; all rows share part='p0' so the rolls happen INSIDE
        # one partition directory.
        payload = F.concat(
            *[F.unhex(F.md5(F.concat(F.col("id").cast("string"), F.lit(f"|{i}"))))
              for i in range(320)]
        )
        (
            spark.range(50_000)
            .select("id", F.lit("p0").alias("part"), payload.alias("blob"))
            .write.parquet(f"{root}/src")
        )
        t0 = time.perf_counter()
        q = write_partitioned_parquet_size_rolled(
            file_stream(spark, f"{root}/src"),
            f"{root}/sink",
            checkpoint=f"{root}/ckpt",
            partition_by=("part",),
            target_file_bytes=110 * 1024 * 1024,
        )
        q.awaitTermination(600)
        wall = time.perf_counter() - t0
        sizes = [
            os.path.getsize(p)
            for p in glob.glob(f"{root}/sink/**/*.parquet", recursive=True)
        ]
        mb = 1024 * 1024
        return (
            round(max(sizes) / mb, 2),
            round(sum(sizes) / mb, 1),
            len(sizes),
            round(wall, 3),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def calibration_probe(spark, sf_dir: str) -> dict:
    """Fixed reference workload at the TOP of every bench run, so
    round-over-round deltas can be split into machine speed vs code
    change (round-5 verdict: a broad ~1.25× wall regression plus a 20×
    roll-proof anomaly could not be adjudicated because nothing in the
    run measured the box itself). Two probes, deliberately untouched
    code paths:

    - CPU/codegen: median-of-3 tpch_q1 (pure Catalyst aggregate,
      unchanged since round 1) → `calib_tpch_q1_sec`;
    - IO: one fixed ~100 MB incompressible parquet write (same
      concat-unhex-md5 payload family as the roll proof)
      → `calib_write_sec`;
    - MULTI-STAGE (round-11 verdict item 9: the single-burst q1 probe
      provably does not track 32-way multi-stage throughput — its
      normalized deltas flipped sign between runs of identical code):
      median-of-3 of a fixed 3-exchange shuffle join + aggregate over
      lineitem×orders with auto-broadcast disabled, timed to the noop
      sink → `calib_multistage_sec`. Inline SQL on purpose — pinned to
      no registry code path, so it can never move with a query edit.

    A later round divides its own probe numbers by these to get
    machine-speed ratios; per-query deltas are then reported both raw
    and normalized by the CPU ratio (BENCH_LOCAL only — the stdout
    line carries just the scalars)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_application_spark.catalog import load_table
    from flink_application_spark.plans.registry import REGISTRY_GET

    spec = REGISTRY_GET("tpch_q1_pricing_summary")
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spec.spark(spark, sf_dir).count()
        runs.append(time.perf_counter() - t0)
    q1 = sorted(runs)[1]

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    thresh_key = "spark.sql.autoBroadcastJoinThreshold"
    prev_thresh = spark.conf.get(thresh_key)
    spark.conf.set(thresh_key, -1)  # force the shuffle join — 3 exchanges
    try:
        ms_runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy((F.col("o_custkey") % 1024).alias("g"))
                .agg(
                    F.sum("l_extendedprice").alias("rev"),
                    F.count(F.lit(1)).alias("n"),
                )
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            ms_runs.append(time.perf_counter() - t0)
    finally:
        spark.conf.set(thresh_key, prev_thresh)
    multi = sorted(ms_runs)[1]

    root = tempfile.mkdtemp(prefix="bench_calib_")
    try:
        payload = F.concat(
            *[F.unhex(F.md5(F.concat(F.col("id").cast("string"), F.lit(f"|c{i}"))))
              for i in range(64)]
        )
        df = spark.range(100_000).select("id", payload.alias("blob"))
        t0 = time.perf_counter()
        df.coalesce(8).write.mode("overwrite").parquet(f"{root}/out")
        w = time.perf_counter() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return {
        "calib_tpch_q1_sec": round(q1, 3),
        "calib_write_sec": round(w, 3),
        "calib_multistage_sec": round(multi, 3),
    }


def prev_aggregation(parsed: dict, round_no: int) -> str:
    """Aggregation methodology of a prior bench artifact. The stdout
    line (and therefore the driver's BENCH_r tail capture) sheds the
    static 'aggregation' key, so its absence means "whatever that round
    ran": min-of-2 only for r01/r02, median from r03 on (round-6
    ADVICE — the old blanket 'min_of_2' fallback misreported a
    median-vs-min methodology skew against any r03+ line artifact)."""
    return parsed.get("aggregation") or (
        "min_of_2" if round_no <= 2 else "median"
    )


def format_stdout_line(result: dict, limit: int = 1900) -> str:
    """The one machine-readable stdout line, guaranteed to fit the
    driver's 2000-char tail capture (rounds 3 AND 4 lost their parsed
    headline to it). Per-query deltas are shed first (they live in
    BENCH_LOCAL_r{N}.json); if future headline growth still overflows,
    the queries dict is shed last and flagged. Unit-tested in
    tests/test_bench_line.py."""
    # never on the line: per-query deltas (bulky) and the static
    # methodology descriptors (identical every round — "median",
    # "size_rolled_partitioned_parquet", sample counts; ~180 chars of
    # zero round-over-round information). All of it lives in
    # BENCH_LOCAL_r{N}.json, which is committed in-repo.
    off_line = (
        "deltas_vs_prev_round",
        "deltas_prev_aggregation",
        "deltas_vs_prev_round_normalized",
        "samples_per_query",
        "aggregation",
        "streaming_samples",
        "streaming_aggregation",
        "stream_sink",
        # derivable counts/walls (count = rate × wall; wall = count ÷
        # rate — each pair reconstructs from the line + BENCH_LOCAL);
        # all live in BENCH_LOCAL like the other shed statics
        "flinkconf_wall_sec",
        "flinkconf_compact_wall_sec",
        # static workload descriptor + derivable count (rate × wall);
        # the r11 6×-replica re-basing note lives in BENCH_LOCAL
        "flinkconf_replicas",
        "flinkconf_events",
        # derivable: post = consolidated + live-batch files; the pre/
        # post pair on the line carries the reduction proof
        "flinkconf_compact_files_consolidated",
        "stream_events",
        "ingest_docs",
        "stream_wall_sec",
        "ingest_wall_sec",
    )
    line_doc = {k: v for k, v in result.items() if k not in off_line}
    line = json.dumps(line_doc)
    if len(line) > limit:
        for shed in ("queries",):
            line_doc.pop(shed, None)
            line_doc["shed_keys_see_bench_local"] = shed
            line = json.dumps(line_doc)
            if len(line) <= limit:
                break
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from flink_application_spark.plans.registry import REGISTRY_GET
    from flink_application_spark.session import get_spark

    # Quiet everything that could interleave with (or push out of the
    # driver's tail capture) the single JSON result line: ERROR-only
    # logs and no console progress bars. BENCH_r03.json was recorded
    # with "parsed": null because log noise cut the line.
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Warm JVM/JIT/codegen on the SAME plans at the smallest scale
    # factor (different directory — none of the benched sf's data or
    # page cache is touched), so timings measure steady-state execution
    # rather than first-query JVM compilation.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(sf_dir):
        for name in HEADLINE:
            REGISTRY_GET(name).spark(spark, warm_dir).count()

    # machine-speed probe FIRST (post-warm-up), so every number below
    # can be read against what the box was doing this run
    calib = calibration_probe(spark, sf_dir)

    # median of 3 runs per query: single samples made q1/q3/q5 look
    # regressed in round 2 (run-order noise on a contended box — the
    # round-2 verdict falsified the "regression" by re-measurement);
    # the median absorbs one bad run without hiding a real slowdown
    # the way min-of-N can.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        spec = REGISTRY_GET(name)
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(sorted(runs)[1], 3)

    # Streaming/ingest get the same median-of-3 treatment as the
    # queries: r03 recorded single-sample drops (−25% events/sec, −52%
    # docs/sec) that were run-order noise on a contended box — the
    # exact class the query medians were added to kill.
    stream_runs = [stream_throughput(spark, sf_dir) for _ in range(3)]
    stream_wall = sorted(r[0] for r in stream_runs)[1]
    stream_events = stream_runs[0][1]
    sink_wall = sorted(r[2] for r in stream_runs)[1]
    max_sink_file_mb = max(r[3] for r in stream_runs)
    # small-file compaction proof (round-7 verdict item 6): worst
    # (max) post-compaction file count across the 3 runs — the claim
    # is a file-count collapse at invariant rows, so report the run
    # where compaction helped LEAST
    compact_stats = max(
        (r[4] for r in stream_runs), key=lambda s: s["post_compact_files"]
    )
    ingest_runs = [ingest_throughput(spark, sf_dir) for _ in range(3)]
    ingest_wall = sorted(r[0] for r in ingest_runs)[1]
    ingest_docs = ingest_runs[0][1]
    # reference-parity runtime path: the verbatim flink.conf through
    # app.run (HOCON → RefreshingDim TTL foreachBatch → rolled sink)
    fc_runs = [
        flinkconf_throughput(spark, sf_dir, exercise_compaction=(i == 2))
        for i in range(3)
    ]
    fc_wall = sorted(r[0] for r in fc_runs)[1]
    fc_events = fc_runs[0][1]
    fc_comp = fc_runs[2][2]  # auto-compaction exercised on the last run
    # TWICE per session (round-5 verdict: r05 recorded a 20× roll-proof
    # wall on byte-identical output — one sample can't distinguish a
    # contention spike from a regression; two in-session samples plus
    # the calibration probe can)
    roll_max_mb, roll_total_mb, roll_files, roll_wall = roll_ceiling_proof(spark)
    _, _, _, roll_wall_rerun = roll_ceiling_proof(spark)

    # per-query deltas vs the most recent USABLE bench artifact —
    # positive = slower than last round, negative = faster. Walk
    # newest→oldest over both the driver's BENCH_r{N}.json (whose
    # "parsed" may be a dict, a repr string, or null when the tail
    # capture cut the line — r03 was null and crashed the first form
    # of this loader) and our own BENCH_LOCAL_r{N}.json fallbacks.
    deltas: dict[str, float] = {}
    deltas_norm: dict[str, float] = {}
    cpu_ratio = io_ratio = None
    prev_agg = None
    here = os.path.dirname(os.path.abspath(__file__))
    prior = sorted(
        f for f in os.listdir(here)
        if f.endswith(".json")
        and (f.startswith("BENCH_r") or f.startswith("BENCH_LOCAL_r"))
    )
    def _round_key(f: str) -> tuple[int, int]:
        # numeric round sort ('100' < '99' under the old string key) +
        # explicit driver-artifact preference over the BENCH_LOCAL
        # fallback at the same round (round-4 ADVICE)
        suffix = f.removesuffix(".json").split("_r")[-1]
        rnd = int(suffix) if suffix.isdigit() else -1
        return (rnd, 1 if f.startswith("BENCH_r") else 0)

    # the CURRENT round's slot is max(driver BENCH_r rounds)+1 — a
    # BENCH_LOCAL file already sitting there is a leftover of an
    # in-session run of this same round (contended, same code) and
    # must not become its own delta baseline; compare across rounds
    this_round = 1 + max(
        (
            int(f[len("BENCH_r"):-len(".json")])
            for f in prior
            if f.startswith("BENCH_r")
            and f[len("BENCH_r"):-len(".json")].isdigit()
        ),
        default=0,
    )
    for fname in sorted(prior, key=_round_key, reverse=True):
        if _round_key(fname)[0] >= this_round:
            continue
        try:
            with open(os.path.join(here, fname)) as f:
                doc = json.load(f)
            parsed = doc.get("parsed", doc) if isinstance(doc, dict) else None
            if isinstance(parsed, str):
                import ast

                parsed = ast.literal_eval(parsed)
            if not isinstance(parsed, dict) or not parsed.get("queries"):
                continue
            if parsed.get("sf") != sf:
                # a local smoke at another scale factor must not become
                # the delta baseline — sf0.001 vs sf0.1 deltas are noise
                continue
            prev = parsed["queries"]
            deltas = {
                n: round(timings[n] - prev[n], 3)
                for n in timings
                if n in prev
            }
            # machine-speed ratios vs that round's calibration (keys
            # exist from round 6 on): >1 = this box is SLOWER now, so
            # raw positive deltas that vanish after normalization are
            # contention, not regression
            if parsed.get("calib_tpch_q1_sec"):
                cpu_ratio = round(
                    calib["calib_tpch_q1_sec"] / parsed["calib_tpch_q1_sec"], 3
                )
                deltas_norm = {
                    n: round(timings[n] / cpu_ratio - prev[n], 3)
                    for n in timings
                    if n in prev
                }
            if parsed.get("calib_write_sec"):
                io_ratio = round(
                    calib["calib_write_sec"] / parsed["calib_write_sec"], 3
                )
            # surface methodology skew (see prev_aggregation)
            prev_agg = prev_aggregation(parsed, _round_key(fname)[0])
            break
        except (OSError, ValueError, SyntaxError):
            continue

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "samples_per_query": 3,
        "aggregation": "median",
        "streaming_samples": 3,
        "streaming_aggregation": "median",
        "deltas_vs_prev_round": deltas,
        "deltas_vs_prev_round_normalized": deltas_norm,
        "deltas_prev_aggregation": prev_agg if deltas else None,
        # machine-speed probes (fixed reference workload, see
        # calibration_probe) + ratios vs the previous round's probes
        # (None until the previous artifact carries calib keys)
        **calib,
        "cpu_ratio_vs_prev": cpu_ratio,
        "io_ratio_vs_prev": io_ratio,
        # memory-sink saturation: same sink shape r01/r02
        # recorded, so this key stays round-over-round
        # comparable; the production-sink number is separate
        "stream_events_per_sec": round(stream_events / stream_wall, 1),
        "stream_wall_sec": round(stream_wall, 3),
        "stream_events": stream_events,
        # size-rolled partitioned parquet (real sink IO +
        # 110 MB byte-rolling, the reference's S4 shape)
        "stream_sink_events_per_sec": round(stream_events / sink_wall, 1),
        "stream_sink_wall_sec": round(sink_wall, 3),
        "stream_sink": "size_rolled_partitioned_parquet",
        "max_sink_file_mb": max_sink_file_mb,
        # post-ingest small-file compaction (compact_batches event-sink
        # mode: fold _batch dirs, keep event_date/probe partitioning;
        # row count asserted invariant inside stream_throughput) —
        # worst run of 3
        **compact_stats,
        "ingest_docs_per_sec": round(ingest_docs / ingest_wall, 1),
        "ingest_wall_sec": round(ingest_wall, 3),
        "ingest_docs": ingest_docs,
        # app.run with the reference's verbatim flink.conf (HOCON →
        # TTL foreachBatch → 110 MB rolled sink) — the parity runtime
        "flinkconf_events_per_sec": round(fc_events / fc_wall, 1),
        "flinkconf_wall_sec": round(fc_wall, 3),
        # r11+: the workload is FC_REPLICAS replicas of the cdr fixture
        # (wall >= ~30 s — round-10 verdict item 6 killed the 5-12 s
        # small-denominator band); absolute events/sec is NOT
        # comparable to pre-r11 rounds
        "flinkconf_replicas": FC_REPLICAS,
        "flinkconf_events": fc_events,
        # config-gated post-run compaction on the parity path (the
        # Flink filesystem-sink auto-compaction option → app.
        # compact_sink): fold count + file collapse, rows asserted
        # invariant inside flinkconf_throughput; wall shed to LOCAL
        **fc_comp,
        # 110 MB rolling-ceiling proof with real bytes (≥2 rolls in one
        # partition of incompressible rows; ceiling holds iff
        # roll_proof_max_file_mb ≤ 110 and roll_proof_files > 1)
        "roll_proof_max_file_mb": roll_max_mb,
        "roll_proof_total_mb": roll_total_mb,
        "roll_proof_files": roll_files,
        "roll_proof_wall_sec": roll_wall,
        "roll_proof_wall2_sec": roll_wall_rerun,
    }
    # In-repo fallback artifact: BENCH_r03.json survived only as a
    # truncated tail capture ("parsed": null), so the dict is also
    # written to BENCH_LOCAL_r{N}.json (N = next round not yet recorded
    # by the driver) where nothing can cut it.
    rounds = [
        int(f[len("BENCH_r"):-len(".json")])
        for f in os.listdir(here)
        if f.startswith("BENCH_r") and f.endswith(".json")
        and f[len("BENCH_r"):-len(".json")].isdigit()
    ]
    local = os.path.join(here, f"BENCH_LOCAL_r{max(rounds, default=0) + 1:02d}.json")
    try:
        with open(local, "w") as f:
            json.dump(result, f, indent=1)
    except OSError:
        pass
    sys.stdout.flush()
    sys.stderr.flush()
    print(format_stdout_line(result), flush=True)


if __name__ == "__main__":
    sys.exit(main())
