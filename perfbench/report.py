"""Turn a workload :class:`workloads.Result` into the reported metrics.

End-to-end metrics (untraced runs) are the same five names on every
workload. Per-layer metrics (traced runs) come from three places: the
benchmark's own spans, each micro-batch's ``StreamingQueryProgress``,
and Spark's status store (jobs of the query's ``runId`` job group).
Per-batch figures cover only the batches the run measured.
"""

from __future__ import annotations

import re

from tracing import Span, Tracer, median, percentile, self_times

END_TO_END_UNITS = {
    "events_per_s": "events/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "setup_s": "s",
}
PER_LAYER_UNITS = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "app.run_s": "s",
    "generator.lag_p99_ms": "ms",
    "generator.files_uncommitted_at_end": "count",
    "sources.rows_read_per_event": "ratio",
    "sources.malformed_dropped": "count",
    "sources.decode_build_ms": "ms",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.foreach_batch_ms": "ms",
    "streaming.dim_get_ms": "ms",
    "streaming.dim_refreshes": "count",
    "streaming.enrich_plan_ms": "ms",
    "plans.operators_build_ms": "ms",
    "sinks.write_ms": "ms",
    "sinks.roller_self_ms": "ms",
    "sinks.calibrate_ms": "ms",
    "sinks.absorb_ms": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_per_event": "B/event",
    "spark.progress.latestOffset_ms": "ms",
    "spark.progress.queryPlanning_ms": "ms",
    "spark.progress.walCommit_ms": "ms",
    "spark.progress.commitOffsets_ms": "ms",
    "spark.progress.addBatch_ms": "ms",
    "spark.jobs_per_batch": "count",
    "spark.stages_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "spark.shuffle_write_bytes_per_event": "B/event",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "B",
    "trace.events_per_s": "events/s",
    "trace.latency_p50_ms": "ms",
    "trace.latency_p99_ms": "ms",
}
PROGRESS_PHASES = ("latestOffset", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
_BATCH_RE = re.compile(r"batch = (\d+)")


def peak_rss_mb(pids: list[int | str]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def end_to_end(res) -> dict[str, float]:
    lat_ms = [x * 1000.0 for x in res.latencies_s]
    return {
        "events_per_s": res.events / res.throughput_wall_s,
        "latency_p50_ms": median(lat_ms),
        "latency_p99_ms": percentile(lat_ms, 99.0),
        "setup_s": res.setup_s,
    }


def _batch_of(spans: list[Span]) -> dict[int, tuple[str, int]]:
    """Span id -> (run id, batch id) of its enclosing batch span."""
    by_id = {s.sid: s for s in spans}
    out: dict[int, tuple[str, int]] = {}
    for s in spans:
        cur = s
        while cur is not None and "batch_id" not in cur.attrs:
            cur = by_id.get(cur.parent) if cur.parent is not None else None
        if cur is not None:
            out[s.sid] = (cur.run_id, cur.attrs["batch_id"])
    return out


def _per_batch(values: dict[tuple[str, int], float], keys) -> list[float]:
    return [values.get(k, 0.0) for k in keys]


def span_metrics(tracer: Tracer, batches) -> dict[str, float]:
    keys = [(b.run_id, b.batch_id) for b in batches]
    runs = {b.run_id for b in batches}
    spans = [s for s in tracer.spans if s.run_id in runs]
    owner = _batch_of(spans)
    selfs = self_times(spans)
    dur: dict[str, dict[tuple[str, int], float]] = {}
    slf: dict[str, dict[tuple[str, int], float]] = {}
    for s in spans:
        k = owner.get(s.sid)
        if k is None:
            continue
        d = dur.setdefault(s.name, {})
        d[k] = d.get(k, 0.0) + s.duration
        e = slf.setdefault(s.name, {})
        e[k] = e.get(k, 0.0) + selfs[s.sid]

    def p50_ms(table, name):
        return 1000.0 * median(_per_batch(table.get(name, {}), keys))

    def per_run(name):
        """Spans called ``name`` in each query run, for spans that happen
        per query rather than per batch."""
        return [[s for s in spans if s.name == name and s.run_id == r] for r in sorted(runs)]

    def per_run_ms(name):
        return 1000.0 * median([sum(s.duration for s in ss) for ss in per_run(name)])

    return {
        "streaming.foreach_batch_ms": p50_ms(dur, "streaming.batch"),
        "streaming.dim_get_ms": p50_ms(dur, "streaming.dim_get"),
        "streaming.dim_refreshes": float(median([len(ss) for ss in per_run("streaming.dim_load")])),
        "streaming.enrich_plan_ms": p50_ms(dur, "streaming.enrich_plan"),
        "plans.operators_build_ms": p50_ms(dur, "plans.op"),
        "sinks.write_ms": p50_ms(slf, "sinks.write"),
        "sinks.roller_self_ms": p50_ms(slf, "sinks.roller"),
        "sinks.calibrate_ms": per_run_ms("sinks.calibrate"),
        "sinks.absorb_ms": p50_ms(dur, "sinks.absorb"),
        "sources.decode_build_ms": per_run_ms("sources.decode"),
    }


def sink_metrics(batches) -> dict[str, float]:
    return {
        "sinks.files_written": float(median([b.sink_files for b in batches])),
        "sinks.bytes_per_event": sum(b.sink_bytes for b in batches)
        / sum(b.events for b in batches),
    }


def progress_metrics(batches) -> dict[str, float]:
    out = {
        "streaming.batches": float(len(batches)),
        "streaming.batch_ms": median(
            [b.progress["durationMs"].get("triggerExecution", 0) for b in batches]
        ),
        "sources.rows_read_per_event": sum(b.progress["numInputRows"] for b in batches)
        / sum(b.events for b in batches),
    }
    for ph in PROGRESS_PHASES:
        out[f"spark.progress.{ph}_ms"] = float(
            median([b.progress["durationMs"].get(ph, 0) for b in batches])
        )
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def status_metrics(spark, spark_runs: dict[str, str], batches) -> dict[str, float]:
    """Jobs, stages and tasks per batch, and stage totals, from the
    status store: a micro-batch's jobs carry the query's runId as their
    job group and ``batch = <id>`` in their description."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    want = {(spark_runs[b.run_id], b.batch_id) for b in batches}
    jobs = stages = tasks = 0
    stage_ids: set[int] = set()
    for j in _seq(store.jobsList(None)):
        group = j.jobGroup()
        desc = j.description()
        if not group.isDefined() or not desc.isDefined():
            continue
        m = _BATCH_RE.search(desc.get())
        if m is None or (group.get(), int(m.group(1))) not in want:
            continue
        jobs += 1
        tasks += j.numTasks() - j.numSkippedTasks()
        for sid in _seq(j.stageIds()):
            stage_ids.add(int(sid))
    totals = {"run": 0, "gc": 0, "shuffle": 0, "spill": 0}
    empty_q = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for sid in stage_ids:
        for sd in _seq(store.stageData(sid, False, jvm.java.util.ArrayList(), False, empty_q)):
            if str(sd.status().toString()) == "SKIPPED":
                continue
            stages += 1
            totals["run"] += sd.executorRunTime()
            totals["gc"] += sd.jvmGcTime()
            totals["shuffle"] += sd.shuffleWriteBytes()
            totals["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    n = len(batches)
    events = sum(b.events for b in batches)
    return {
        "spark.jobs_per_batch": jobs / n,
        "spark.stages_per_batch": stages / n,
        "spark.tasks_per_batch": tasks / n,
        "spark.shuffle_write_bytes_per_event": totals["shuffle"] / events,
        "spark.executor_run_s": totals["run"] / 1000.0 / n,
        "spark.gc_s": totals["gc"] / 1000.0 / n,
        "spark.spill_bytes": totals["spill"] / n,
    }


def per_layer(spark, res, tracer: Tracer, e2e: dict[str, float],
              rss_mb: float) -> dict[str, float]:
    batches = [b for b in res.batches if b.run_id in res.traced_runs]
    out = {
        "process.peak_rss_mb": rss_mb,
        "session.start_s": res.session_s,
        "app.run_s": median(res.app_run_s),
        "sources.malformed_dropped": float(res.malformed),
        "generator.lag_p99_ms": 1000.0 * percentile(res.generator_lag_s, 99.0),
        "generator.files_uncommitted_at_end": float(res.files_uncommitted_at_end),
    }
    out.update(progress_metrics(batches))
    out.update(span_metrics(tracer, batches))
    out.update(sink_metrics(batches))
    out.update(status_metrics(spark, res.spark_runs, batches))
    for k in ("events_per_s", "latency_p50_ms", "latency_p99_ms"):
        out[f"trace.{k}"] = e2e[k]
    return out
