"""scan.startup.mode parity (EnrichmentAppWithoutExplode.java:176):
the Flink Kafka connector's startup modes must map onto the Spark
Kafka reader options without a broker in the loop."""

from __future__ import annotations

import json

import pytest

from flink_application_spark.sources.streams import kafka_startup_options


def test_earliest_latest():
    assert kafka_startup_options("t", "earliest-offset") == {
        "startingOffsets": "earliest"
    }
    assert kafka_startup_options("t", "latest-offset") == {"startingOffsets": "latest"}


def test_timestamp_mode():
    assert kafka_startup_options("t", "timestamp", timestamp_ms=1700000000000) == {
        "startingTimestamp": "1700000000000"
    }
    with pytest.raises(ValueError, match="timestamp_ms"):
        kafka_startup_options("t", "timestamp")


def test_specific_offsets():
    opts = kafka_startup_options(
        "cdr", "specific-offsets", specific_offsets={0: 42, 1: 300}
    )
    assert json.loads(opts["startingOffsets"]) == {"cdr": {"0": 42, "1": 300}}
    with pytest.raises(ValueError, match="specific-offsets"):
        kafka_startup_options("cdr", "specific-offsets")


def test_group_offsets_documented_divergence():
    with pytest.raises(ValueError, match="checkpoint"):
        kafka_startup_options("t", "group-offsets")


def test_unknown_mode():
    with pytest.raises(ValueError, match="unknown"):
        kafka_startup_options("t", "from-the-moon")


def test_parse_specific_offsets_flink_string_form():
    from flink_application_spark.app import _parse_specific_offsets

    assert _parse_specific_offsets(
        "partition:0,offset:42;partition:1,offset:300"
    ) == {0: 42, 1: 300}
    assert _parse_specific_offsets({2: 7}) == {2: 7}
    assert _parse_specific_offsets(None) is None


def test_build_source_passes_fail_on_data_loss(monkeypatch):
    """flink.conf's kafka.failOnDataLoss reaches the Kafka reader as the
    Spark option of the same name; unset leaves Spark's default."""
    from flink_application_spark import app

    calls = []
    monkeypatch.setattr(
        app, "kafka_csv_stream", lambda *a, **kw: calls.append((a, kw))
    )
    kafka = {"bootstrap": "broker:9092", "topic": "cdr", "failOnDataLoss": False}
    app.build_source(None, {"mode": "streaming", "source": {"kafka": kafka}})
    (args, kw), = calls
    assert args == (None, "broker:9092", "cdr")
    assert kw["failOnDataLoss"] == "false"
    assert kw["startup_mode"] == "latest-offset"

    calls.clear()
    del kafka["failOnDataLoss"]
    app.build_source(None, {"mode": "streaming", "source": {"kafka": kafka}})
    assert "failOnDataLoss" not in calls[0][1]
