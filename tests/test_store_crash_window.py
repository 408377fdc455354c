"""Read-side crash window of the ``_batch=<id>`` streaming stores: a
batch whose data files landed but whose ``_SUCCESS`` marker did not (a
crash inside the commit) must be invisible to every public read, and
replaying that batch must give exactly the state of an uninterrupted
run. Each store is driven through ``process_batch`` on tiny frames —
no streaming query — so the whole matrix stays cheap enough for the
default tier."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank", "en", "web"),
    (2, "a stitch in time saves nine when you mend the old torn coat", "en", "books"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank", "en", "web"),
    (4, "zzz qqq www xxx yyy vvv", "xx", "forum"),
]


def _docs(spark, ids):
    rows = [(i, t, len(t), lang, src) for i, t, lang, src in _DOCS if i in ids]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, n_chars bigint, lang string, source string"
    )


def _events(spark, batch):
    t0 = dt.datetime(2024, 1, 1)
    if batch == 0:
        rows = [
            (i, "ab"[i % 2], float(10 + i % 3), t0 + dt.timedelta(seconds=i))
            for i in range(10)
        ]
    else:
        rows = [
            (10, "a", 500.0, t0 + dt.timedelta(seconds=20)),
            (11, "a", 11.0, t0 + dt.timedelta(seconds=1)),  # late vs batch 0
            (12, "c", 7.0, t0 + dt.timedelta(seconds=21)),
        ]
    return spark.createDataFrame(
        rows, "id bigint, key string, value double, ts timestamp"
    )


def _rows(df):
    return sorted(str(tuple(r)) for r in df.collect())


def _anomaly(spark, root):
    from flink_application_spark.streaming.anomaly import StreamingAnomalyDetector

    s = StreamingAnomalyDetector(
        root, key_col="key", value_col="value", threshold=2.0, min_history=3
    )
    return s, _events, {
        "history": lambda: _rows(s.history(spark)),
        "flags": lambda: _rows(s.flags(spark)),
    }


def _ivf(spark, root):
    from flink_application_spark.operators.ann_index import build_ivf_index
    from flink_application_spark.streaming.ann_ingest import IVFIngest

    vecs = {
        0: [(0, [1.0, 0.1]), (1, [0.1, 1.0])],
        1: [(2, [0.9, 0.2]), (3, [0.2, 0.9])],
    }

    def frame(spark, b):
        return spark.createDataFrame(vecs[b], "vec_id bigint, embedding array<double>")

    build_ivf_index(frame(spark, 0).limit(1), root, centroids=[[1.0, 0.0], [0.0, 1.0]])
    s = IVFIngest(root)
    queries = spark.createDataFrame(
        [(9, [1.0, 0.0]), (8, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    return s, frame, {
        "lists": lambda: _rows(s.lists(spark)),
        "query": lambda: _rows(s.query(spark, queries, k=2, n_probe=2)),
    }


def _near_dup(spark, root):
    from flink_application_spark.streaming.dedup_index import NearDupIndex

    s = NearDupIndex(root)
    return s, lambda spark, b: _docs(spark, (1, 2) if b == 0 else (3, 4)), {
        "pairs": lambda: _rows(s.pairs(spark)),
        "batch_pairs": lambda: _rows(s.batch_pairs(spark, 1)),
    }


def _drift(spark, root):
    from flink_application_spark.streaming.drift import DriftMonitor, build_baseline

    build_baseline(_docs(spark, (1, 2)), os.path.join(root, "baseline"))
    s = DriftMonitor(os.path.join(root, "baseline"), root)
    return s, lambda spark, b: _docs(spark, (1, 2) if b == 0 else (3, 4)), {
        "audit": lambda: _rows(s.audit(spark)),
    }


def _rules(spark, root):
    from flink_application_spark.streaming.dynamic_rules import (
        DynamicRuleEngine,
        write_rules,
    )

    os.makedirs(root)
    rules = os.path.join(root, "rules.json")
    write_rules({"big": "value > 100", "low": "value < 11"}, rules)
    s = DynamicRuleEngine(rules, root, "id")
    return s, _events, {"matches": lambda: _rows(s.matches(spark))}


def _heavy_hitters(spark, root):
    from flink_application_spark.streaming.heavy_hitters import HeavyHitters

    s = HeavyHitters(root, key_col="key")
    return s, _events, {
        "sketch": lambda: _rows(s.sketch(spark)),
        "topk": lambda: [tuple(r) for r in s.topk(spark, k=3).collect()],
    }


def _hll(spark, root):
    from flink_application_spark.streaming.hll import StreamingDistinctSketch

    s = StreamingDistinctSketch(root, group_cols=("key",), item_col="id")
    return s, _events, {
        "merged": lambda: _rows(
            s.merged(spark).select(
                "key", "n_rows", F.hll_sketch_estimate("sketch").alias("est")
            )
        ),
        "estimates": lambda: _rows(s.estimates(spark)),
    }


def _ingestion(spark, root):
    from flink_application_spark.streaming.ingestion import CorpusIngestion

    s = CorpusIngestion(root, min_quality=0.0, near_dup_threshold=0.5)
    return s, lambda spark, b: _docs(spark, (1, 2) if b == 0 else (3, 4)), {
        "shards": lambda: _rows(s.shards(spark)),
        "audit": lambda: _rows(s.audit(spark)),
    }


def _late_data(spark, root):
    from flink_application_spark.streaming.late_data import LateDataRouter

    s = LateDataRouter(root, ts_col="ts", allowed_delay_seconds=2.0)
    return s, _events, {
        "on_time": lambda: _rows(s.on_time(spark)),
        "late": lambda: _rows(s.late(spark)),
    }


def _lm_gate(spark, root):
    from flink_application_spark.streaming.lm_gate import LMGate, train_lm_to_dir

    train_lm_to_dir(_docs(spark, (1, 2)), os.path.join(root, "model"))
    s = LMGate(os.path.join(root, "model"), root, lo=0.0, hi=1e9)
    return s, lambda spark, b: _docs(spark, (1, 2) if b == 0 else (3, 4)), {
        "accepted": lambda: _rows(s.accepted(spark)),
        "rejected": lambda: _rows(s.rejected(spark)),
    }


def _quantiles(spark, root):
    from flink_application_spark.streaming.quantiles import StreamingQuantileSketch

    s = StreamingQuantileSketch(root, value_col="value")
    return s, _events, {
        "merged": lambda: _rows(s.merged(spark)),
        "quantiles": lambda: s.quantiles(spark, [0.5, 0.99]),
    }


CASES = {
    "StreamingAnomalyDetector": _anomaly,
    "IVFIngest": _ivf,
    "NearDupIndex": _near_dup,
    "DriftMonitor": _drift,
    "DynamicRuleEngine": _rules,
    "HeavyHitters": _heavy_hitters,
    "StreamingDistinctSketch": _hll,
    "CorpusIngestion": _ingestion,
    "LateDataRouter": _late_data,
    "LMGate": _lm_gate,
    "StreamingQuantileSketch": _quantiles,
}


@pytest.mark.parametrize("store", list(CASES))
def test_uncommitted_batch_is_invisible_and_replay_converges(spark, tmp_path, store):
    root = str(tmp_path / "store")
    st, batch, reads = CASES[store](spark, root)

    def state():
        return {name: read() for name, read in reads.items()}

    st.process_batch(batch(spark, 0), 0)
    after0 = state()
    st.process_batch(batch(spark, 1), 1)
    uninterrupted = state()
    assert uninterrupted != after0  # batch 1 shows once committed

    # crash between batch 1's data files and its commit marker
    markers = glob.glob(
        os.path.join(root, "**", "_batch=1", "_SUCCESS"), recursive=True
    )
    assert markers
    for m in markers:
        os.remove(m)
    crashed = state()
    for name in reads:
        assert crashed[name] == after0[name], name

    st.process_batch(batch(spark, 1), 1)  # restart replays batch 1
    replayed = state()
    for name in reads:
        assert replayed[name] == uninterrupted[name], name
