"""The two CDR workloads: a backlog drain and an open-loop live feed.

Both drive the package's public entry point ``app.run`` with the config
dict ``app.flink_conf_to_config`` yields for the reference's flink.conf
(see ``app_config``), on a csv-lines drop directory the benchmark fills
from ``gen``. Each returns a :class:`Result` holding the raw
measurements; ``report.py`` turns them into the reported metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from tracing import Tracer, median

MB = 1024 * 1024
BACKLOG_REPLICAS = 3  # 300k events: ~7 s of a ~11 s warm drain is per-event work
BACKLOG_FILES = 8
LIVE_EVENTS_PER_S = 2_000  # well below capacity: at 5,000 a slower box queues up
# Longer than a warm batch, so batches start on the trigger's schedule
# instead of back to back: latency does not feed on itself.
LIVE_TRIGGER = "3 seconds"
LIVE_FILES_PER_S = 10  # the file source pays ~7 ms per file per batch
LIVE_PER_FILE = LIVE_EVENTS_PER_S // LIVE_FILES_PER_S
LIVE_WARM_EVENTS = 20_000  # batch 0: dims load, sink calibration, cold JIT
LIVE_WARMUP_S = 10.0  # then this long of the feed runs unmeasured
DRAIN_TIMEOUT_S = 120

# Spans recorded on traced runs: target -> span name. Targets are the
# names the package looks up at call time (module globals and class
# attributes), so a patched attribute is what the pipeline calls.
TRACE_TARGETS = {
    "flink_application_spark.app:_load_dim": "streaming.dim_load",
    "flink_application_spark.sources.streams:decode_csv_value": "sources.decode",
    "flink_application_spark.streaming.dim_refresh:RefreshingDim.get": "streaming.dim_get",
    "flink_application_spark.streaming.pipeline:streaming_enrichment": "streaming.enrich_plan",
    "flink_application_spark.streaming.pipeline:extend_with_partition_cols": "plans.op",
    "flink_application_spark.streaming.pipeline:lookup_join": "plans.op",
    "flink_application_spark.streaming.pipeline:coalesce_enrich": "plans.op",
    "flink_application_spark.streaming.pipeline:select_canonical": "plans.op",
    "flink_application_spark.streaming.pipeline:explode_delimited": "plans.op",
    "flink_application_spark.streaming.pipeline:theta_asof_candidates": "plans.op",
    "flink_application_spark.streaming.pipeline:with_proc_time": "plans.op",
    "flink_application_spark.streaming.pipeline:session_argmax_dedup": "plans.op",
    "flink_application_spark.streaming.sinks:SizeCalibratedRoller.__call__": "sinks.roller",
    "flink_application_spark.streaming.sinks:SizeCalibratedRoller._sample_calibrate": "sinks.calibrate",
    "flink_application_spark.streaming.sinks:SizeCalibratedRoller._absorb": "sinks.absorb",
    "flink_application_spark.streaming.sinks:idempotent_batch_write": "sinks.write",
}
# The foreachBatch function app.run builds: one span per micro-batch.
TRACE_FACTORIES = {
    "flink_application_spark.streaming.pipeline:refreshing_enrichment_batch_fn": (
        "streaming.batch", 1,
    ),
}


def app_config(src: str, dims: dict[str, str], sink: str, ckpt: str, trigger) -> dict:
    """What ``flink_conf_to_config(<reference flink.conf>, overrides)``
    produces, written inline: csv-lines source (the Kafka block swapped
    for a local drop directory), JDBC dims served from parquet with the
    conf's 60 s partial-cache TTL, and the HDFS sink block as a local
    parquet sink partitioned by (event_date, probe), rolled at 110 MB.
    ``trigger`` None is availableNow."""

    def dim(path: str, max_rows: int) -> dict:
        return {
            "format": "jdbc", "url": None, "dbtable": None, "user": None,
            "password": None, "cache_max_rows": max_rows,
            "cache_ttl_ms": 60_000, "parquet_fallback": path,
        }

    return {
        "mode": "streaming",
        "checkpoint_interval_ms": 180_000,
        "parallelism": 1,
        "source": {"format": "csv-lines", "path": src},
        "dims": {
            "imsi_msisdn": dim(dims["imsi_msisdn"], 100),
            "ms_ip": dim(dims["ms_ip"], 1000),
        },
        "sink": {
            "format": "parquet",
            "path": sink,
            "checkpoint": ckpt,
            "partition_by": ["event_date", "probe"],
            "name": "enrichment_sink",
            "sink.rolling-policy.file-size": 110 * MB,
            "auto-compaction": False,
            "trigger": trigger,
        },
        "generator": {},
    }


@dataclass
class Batch:
    """One micro-batch that carried data."""

    batch_id: int
    run_id: str
    events: int
    progress: dict
    sink_files: int  # parquet files the batch committed
    sink_bytes: int


@dataclass
class Result:
    setup_s: float
    session_s: float
    latencies_s: list[float]  # one per drain (backlog) or per event (live)
    events: int  # events behind the throughput figure
    throughput_wall_s: float
    attempted: int
    failed: int
    malformed: int
    batches: list[Batch] = field(default_factory=list)
    app_run_s: list[float] = field(default_factory=list)
    traced_runs: set[str] = field(default_factory=set)
    generator_lag_s: list[float] = field(default_factory=list)
    files_uncommitted_at_end: int = 0
    spark_runs: dict[str, str] = field(default_factory=dict)  # run id -> query runId
    notes: list[str] = field(default_factory=list)


def log(msg: str) -> None:
    """Progress on standard error; standard output carries only the result."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# checkpoint readers


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log
    (``sources/0/<batchId>`` and its ``.compact`` roll-ups: a version
    line, then one JSON entry per file)."""
    out: dict[str, int] = {}
    log = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Batch id -> epoch seconds its ``commits/<batchId>`` file landed."""
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime
        for n in os.listdir(d)
        if n.isdigit()
    }


# ---------------------------------------------------------------------------
# correctness


def reference_rows(spark, typed_path: str, dims: dict[str, str]):
    """Batch ``streaming_enrichment`` over the typed input, with the
    knobs ``app.run`` passes on its TTL path."""
    from flink_application_spark.streaming.pipeline import streaming_enrichment

    return streaming_enrichment(
        spark.read.parquet(typed_path),
        spark.read.parquet(dims["imsi_msisdn"]),
        spark.read.parquet(dims["ms_ip"]),
        path_a_how="inner",
        gap="1 second",
    )


def decoded(spark, src: str):
    """The source layer's batch decode of every line under ``src``."""
    from flink_application_spark.sources.csv_decode import decode_csv_value

    return decode_csv_value(spark.read.text(src))


def fingerprint(df) -> tuple:
    """(rows, sum of xxhash64, sum of murmur3) over every row: equal for
    equal row multisets. Null flags join the hash input, because both
    hashes skip NULL values."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns] + [F.isnull(c) for c in df.columns]
    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        F.sum(F.hash(*cols).cast("decimal(38,0)")),
    ).first()
    return tuple(row)


class Check:
    """Output checks. ``expect`` starts fingerprinting a wanted frame on a
    background thread (set-up waits for it with ``ready`` before anything
    is measured); ``unmatched`` fingerprints the frames the run produced
    and, only where one differs, counts rows without a partner."""

    def __init__(self) -> None:
        self._pool = ThreadPoolExecutor(2)
        self._want: dict[str, tuple[object, Future]] = {}

    def expect(self, name: str, df) -> None:
        self._want[name] = (df, self._pool.submit(fingerprint, df))

    def ready(self) -> None:
        for _df, fut in self._want.values():
            fut.result()

    def unmatched(self, got: dict[str, object]) -> dict[str, int]:
        futs = {k: self._pool.submit(fingerprint, df) for k, df in got.items()}
        out = {}
        for k, fut in futs.items():
            want, want_fp = self._want[k][0], self._want[k][1].result()
            same = fut.result() == want_fp
            out[k] = 0 if same else (
                want.exceptAll(got[k]).count() + got[k].exceptAll(want).count()
            )
        return out

    def close(self) -> None:
        self._pool.shutdown(wait=True, cancel_futures=True)


# ---------------------------------------------------------------------------
# shared per-query bookkeeping


def _data_batches(q, run_id: str, sink: str, want: set[int] | None = None) -> list[Batch]:
    out = []
    for p in q.recentProgress:
        bid = int(p["batchId"])
        if p["numInputRows"] and (want is None or bid in want):
            progress = {
                "numInputRows": int(p["numInputRows"]),
                "durationMs": dict(p["durationMs"]),
            }
            sizes = [
                os.path.getsize(os.path.join(root, n))
                for root, _dirs, names in os.walk(os.path.join(sink, f"_batch={bid}"))
                for n in names
                if n.endswith(".parquet")
            ]
            out.append(Batch(bid, run_id, 0, progress, len(sizes), sum(sizes)))
    return out


def _check_query(q) -> None:
    exc = q.exception()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")


@dataclass
class Drain:
    wall_s: float
    app_run_s: float
    query: object
    sink: str
    ckpt: str


def drain(spark, src: str, dims: dict[str, str], work: str, name: str) -> Drain:
    """One availableNow ``app.run`` over ``src`` into a fresh sink,
    timed from the call to termination (the sink is committed then)."""
    from flink_application_spark.app import run

    sink = os.path.join(work, f"sink-{name}")
    ckpt = os.path.join(work, f"ckpt-{name}")
    t0 = time.perf_counter()
    q = run(spark, app_config(src, dims, sink, ckpt, None))
    t_run = time.perf_counter() - t0
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"drain {name} did not finish in {DRAIN_TIMEOUT_S} s")
    wall = time.perf_counter() - t0
    _check_query(q)
    return Drain(wall, t_run, q, sink, ckpt)


def write_backlog(lines: list[str], src: str, files: int) -> None:
    """``lines`` into ``files`` files of consecutive lines under ``src``."""
    os.makedirs(src)
    bounds = np.linspace(0, len(lines), files + 1).astype(int).tolist()
    for i in range(files):
        gen.write_lines(os.path.join(src, f"part-{i:03d}.csv"), lines[bounds[i]:bounds[i + 1]])


# ---------------------------------------------------------------------------
# cdr_backlog


def cdr_backlog(spark, work: str, seed: int, seconds: float, session_s: float,
                tracer: Tracer | None) -> Result:
    """Closed loop, one client: drain a fixed backlog with one
    availableNow ``app.run``, again while another drain is expected to
    end within ``seconds``. Set-up ends with one full-scale warm-up
    drain, while the expected output is fingerprinted alongside."""
    from flink_application_spark.plans.cdr import CANONICAL

    t_setup = time.perf_counter()
    rep = gen.Replica(seed)
    offsets = gen.replica_offsets(seed, BACKLOG_REPLICAS)
    order = gen.permutation(len(offsets) * rep.n, seed)
    lines = gen.csv_lines(rep, offsets, order)
    src = os.path.join(work, "src")
    write_backlog(lines, src, BACKLOG_FILES)
    gen_lag = time.perf_counter() - t_setup
    n_events = len(lines)
    del lines
    typed = os.path.join(work, "typed.parquet")
    pq.write_table(gen.typed_table(rep, offsets, order), typed)
    dims = gen.write_dims(rep, work)
    log(f"inputs ready: {n_events} events in {time.perf_counter() - t_setup:.1f} s")

    check = Check()
    try:
        check.expect("decode", spark.read.parquet(typed))
        check.expect("sink", reference_rows(spark, typed, dims).select(*CANONICAL))
        warm = drain(spark, src, dims, work, "warm")
        check.ready()
        setup_s = session_s + (time.perf_counter() - t_setup)
        log(f"warm-up drain {warm.wall_s:.1f} s; set-up {setup_s:.1f} s")
        shutil.rmtree(warm.sink)
        shutil.rmtree(warm.ckpt)

        res = Result(setup_s, session_s, [], n_events, 0.0, n_events, 0, 0)
        res.generator_lag_s = [gen_lag]
        res.files_uncommitted_at_end = BACKLOG_FILES
        t_meas = time.perf_counter()
        last = None
        while last is None or time.perf_counter() - t_meas + last.wall_s <= seconds:
            run_id = f"drain{len(res.latencies_s) + 1}"
            if last is not None:
                shutil.rmtree(last.sink)
                shutil.rmtree(last.ckpt)
            if tracer is not None:
                tracer.enabled, tracer.run_id = True, run_id
                res.traced_runs.add(run_id)
            try:
                last = drain(spark, src, dims, work, run_id)
            finally:
                if tracer is not None:
                    tracer.enabled = False
            log(f"{run_id}: {last.wall_s:.2f} s")
            res.latencies_s.append(last.wall_s)
            res.app_run_s.append(last.app_run_s)
            res.spark_runs[run_id] = str(last.query.runId)
            for b in _data_batches(last.query, run_id, last.sink):
                b.events = n_events
                res.batches.append(b)
        res.throughput_wall_s = median(res.latencies_s)

        # untimed: every line decodes to its generated row, and the last
        # drain's sink holds the row multiset of batch enrichment over
        # the same input
        bad = check.unmatched({
            "decode": decoded(spark, src),
            "sink": spark.read.parquet(last.sink).select(*CANONICAL),
        })
    finally:
        check.close()
    res.malformed = bad["decode"]
    res.failed = min(n_events, bad["decode"] + bad["sink"])
    if bad["sink"]:
        res.notes.append(f"sink vs reference: {bad['sink']} unmatched rows")
    log("correctness checked")
    return res


# ---------------------------------------------------------------------------
# cdr_live


class FileFeed(threading.Thread):
    """Open-loop generator. Event ``k`` is due at ``t0 + k / rate``; a
    file carries ``per_file`` consecutive events and is written to a
    staging directory, then renamed into the drop directory, as soon as
    its last event is due. The schedule never waits for the job."""

    def __init__(self, lines: list[str], per_file: int, rate: float,
                 stage: str, drop: str, t0: float) -> None:
        super().__init__(name="perfbench-feed", daemon=True)
        self.lines, self.per_file, self.rate = lines, per_file, rate
        self.stage, self.drop, self.t0 = stage, drop, t0
        self.n_files = len(lines) // per_file
        self.landed: list[float] = []
        self.error: Exception | None = None

    def event_due(self, k: int) -> float:
        return self.t0 + k / self.rate

    def file_due(self, i: int) -> float:
        return self.event_due((i + 1) * self.per_file - 1)

    def name_of(self, i: int) -> str:
        return f"f{i:06d}.csv"

    def run(self) -> None:
        try:
            for i in range(self.n_files):
                delay = self.file_due(i) - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = self.name_of(i)
                staged = os.path.join(self.stage, name)
                gen.write_lines(staged, self.lines[i * self.per_file:(i + 1) * self.per_file])
                os.rename(staged, os.path.join(self.drop, name))
                self.landed.append(time.time())
        except Exception as e:  # raised again by the caller after join
            self.error = e


def event_latencies(feed: FileFeed, file_batch: dict[str, int],
                    committed: dict[int, float], lo: float, hi: float) -> list[float]:
    """Commit time of each event's batch minus the event's due time, for
    events due in ``[lo, hi)``."""
    out = []
    for i in range(feed.n_files):
        commit = committed[file_batch[feed.name_of(i)]]
        for k in range(i * feed.per_file, (i + 1) * feed.per_file):
            due = feed.event_due(k)
            if lo <= due < hi:
                out.append(commit - due)
    return out


def wait_committed(q, ckpt: str, names: list[str]) -> tuple[dict[str, int], dict[int, float]]:
    """Poll until every file in ``names`` sits in a committed batch;
    returns the file -> batch and batch -> commit time maps."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        fb, ct = file_batches(ckpt), commit_times(ckpt)
        if all(fb.get(n) in ct for n in names):
            return fb, ct
        if not q.isActive:
            _check_query(q)
            raise RuntimeError("live query stopped before committing every file")
        if time.time() > deadline:
            raise RuntimeError("live query did not commit every file in time")
        time.sleep(0.1)


def cdr_live(spark, work: str, seed: int, seconds: float, session_s: float,
             tracer: Tracer | None) -> Result:
    """Open loop at LIVE_EVENTS_PER_S on a LIVE_TRIGGER processingTime trigger.
    Set-up: the query's batch 0 drains a LIVE_WARM_EVENTS backlog left in
    the drop directory (dims load, sink calibration, cold JIT) while the
    expected output is fingerprinted; then the feed starts and its first
    LIVE_WARMUP_S seconds go unmeasured. Events due in the next
    ``seconds`` are measured."""
    from flink_application_spark.app import run

    t_setup = time.perf_counter()
    total_s = LIVE_WARMUP_S + seconds
    n_lines = int(total_s * LIVE_FILES_PER_S) * LIVE_PER_FILE
    replicas = -(-n_lines // gen.EVENTS_PER_REPLICA)
    rep = gen.Replica(seed)
    offsets = gen.replica_offsets(seed, replicas + 1)
    live_offsets, warm_offset = offsets[:-1], offsets[-1:]
    order = gen.permutation(replicas * rep.n, seed)[:n_lines]
    times = gen.feed_times(n_lines, LIVE_EVENTS_PER_S, seed)
    lines = gen.csv_lines(rep, live_offsets, order, times)
    warm_order = gen.permutation(rep.n, seed + 1)[:LIVE_WARM_EVENTS]
    stage, drop = os.path.join(work, "stage"), os.path.join(work, "drop")
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
    os.makedirs(stage)
    write_backlog(gen.csv_lines(rep, warm_offset, warm_order), drop, 4)
    typed = os.path.join(work, "typed.parquet")
    pq.write_table(
        pa.concat_tables([
            gen.typed_table(rep, warm_offset, warm_order),
            gen.typed_table(rep, live_offsets, order, times),
        ]),
        typed,
    )
    dims = gen.write_dims(rep, work)
    log(f"inputs ready: {n_lines} live events in {time.perf_counter() - t_setup:.1f} s")

    check = Check()
    try:
        check.expect("decode", spark.read.parquet(typed))
        check.expect(
            "ids", reference_rows(spark, typed, dims).select("unique_cdr_id").distinct()
        )
        if tracer is not None:
            tracer.enabled, tracer.run_id = True, "live"
        t0 = time.perf_counter()
        q = run(spark, app_config(drop, dims, sink, ckpt, LIVE_TRIGGER))
        app_run_s = time.perf_counter() - t0
        names = []
        try:
            wait_committed(q, ckpt, [f"part-{i:03d}.csv" for i in range(4)])
            check.ready()
            log(f"warm-up backlog drained {time.perf_counter() - t0:.1f} s after start")
            feed = FileFeed(lines, LIVE_PER_FILE, LIVE_EVENTS_PER_S, stage, drop,
                            time.time() + 0.2)
            setup_s = session_s + (time.perf_counter() - t_setup) + 0.2 + LIVE_WARMUP_S
            names = [feed.name_of(i) for i in range(feed.n_files)]
            feed.start()
            feed.join(total_s + 30)
            if feed.is_alive() or feed.error is not None:
                raise RuntimeError(f"file feed failed: {feed.error!r}")
            fb, ct = file_batches(ckpt), commit_times(ckpt)
            uncommitted = sum(1 for n in names if fb.get(n) not in ct)
            # stop only once every file's batch has committed
            fb, ct = wait_committed(q, ckpt, names)
        finally:
            if tracer is not None:
                tracer.enabled = False
            q.stop()
        _check_query(q)
        for p in q.recentProgress:
            if p["numInputRows"]:
                log(f"batch {p['batchId']}: {p['numInputRows']} rows, {p['durationMs']}")

        # untimed: every line decodes to its generated row, and the sink
        # holds the distinct ids of batch enrichment over the same input
        # (dedup is per micro-batch, so an id may keep one row per batch)
        bad = check.unmatched({
            "decode": decoded(spark, drop),
            "ids": spark.read.parquet(sink).select("unique_cdr_id").distinct(),
        })
    finally:
        check.close()

    lo = feed.t0 + LIVE_WARMUP_S
    hi = lo + seconds
    measured = [i for i in range(feed.n_files) if lo <= feed.file_due(i) < hi]
    lat = event_latencies(feed, fb, ct, lo, hi)
    res = Result(
        setup_s=setup_s,
        session_s=session_s,
        latencies_s=lat,
        events=len(lat),
        throughput_wall_s=max(ct[fb[names[i]]] for i in measured) - lo,
        attempted=n_lines + len(warm_order),
        failed=0,
        malformed=bad["decode"],
    )
    res.failed = min(res.attempted, bad["decode"] + bad["ids"])
    if bad["ids"]:
        res.notes.append(f"sink vs reference: {bad['ids']} unmatched distinct ids")
    res.app_run_s = [app_run_s]
    res.generator_lag_s = [feed.landed[i] - feed.file_due(i) for i in measured]
    res.files_uncommitted_at_end = uncommitted
    res.spark_runs = {"live": str(q.runId)}
    if tracer is not None:
        res.traced_runs = {"live"}
    events_in: dict[int, int] = {}  # live events per batch
    for n in names:
        events_in[fb[n]] = events_in.get(fb[n], 0) + LIVE_PER_FILE
    for b in _data_batches(q, "live", sink, {fb[names[i]] for i in measured}):
        b.events = events_in[b.batch_id]
        res.batches.append(b)
    log("correctness checked")
    return res


WORKLOADS = {"cdr_backlog": cdr_backlog, "cdr_live": cdr_live}
