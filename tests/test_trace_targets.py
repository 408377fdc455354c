"""The benchmark's traced run (`python perfbench/run.py --trace 1`)
patches package attributes by name. These tests resolve every entry
the way `perfbench/tracing.py:Tracer.install` does, so a refactor of
the CDR path cannot silently break the traced run."""

from __future__ import annotations

import importlib
import os

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


@pytest.fixture()
def bench(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    return importlib.import_module("workloads"), importlib.import_module("tracing")


def test_every_trace_target_installs_and_uninstalls(bench):
    workloads, tracing = bench
    tracer = tracing.Tracer()
    targets = {**workloads.TRACE_TARGETS, **workloads.TRACE_FACTORIES}
    tracer.install(workloads.TRACE_TARGETS, workloads.TRACE_FACTORIES)
    try:
        assert len(tracer._patched) == len(targets)
        for owner, leaf, orig in tracer._patched:
            assert callable(orig)
            assert owner.__dict__[leaf] is not orig
    finally:
        tracer.uninstall()
    for owner, leaf, orig in tracer._patched:
        assert owner.__dict__[leaf] is orig


def test_pipeline_calls_every_traced_operator_through_its_globals(spark, bench):
    """Planning the enrichment on batch frames passes through every
    traced `streaming.pipeline` callable, so each one's span fires."""
    workloads, tracing = bench
    from flink_application_spark.streaming import pipeline

    pipeline_targets = [
        t for t in workloads.TRACE_TARGETS
        if t.startswith("flink_application_spark.streaming.pipeline:")
    ]
    tracer = tracing.Tracer()
    tracer.install({t: t for t in pipeline_targets})
    tracer.enabled = True
    try:
        src = spark.sql(
            "SELECT TIMESTAMP'2024-01-01 00:00:00' AS start_time,"
            " 'DE-probe-1' AS measuring_probe_name, CAST(NULL AS BIGINT) AS imsi,"
            " CAST(NULL AS BIGINT) AS msisdn, ';10.0.0.1;' AS ms_ip_address,"
            " 1L AS unique_cdr_id"
        )
        imsi_msisdn = spark.sql("SELECT 1L AS imsi, 2L AS msisdn")
        ms_ip = spark.sql(
            "SELECT TIMESTAMP'2023-01-01 00:00:00' AS start_time, 1L AS imsi,"
            " 2L AS msisdn, ';10.0.0.1;' AS ms_ip_address, 'DE' AS probe"
        )
        pipeline.streaming_enrichment(src, imsi_msisdn, ms_ip)
    finally:
        tracer.uninstall()
    assert {s.name for s in tracer.spans} == set(pipeline_targets)
