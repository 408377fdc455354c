"""Exact-integer ridge-classifier training (`operators/lr_exact.py`):
the whole trajectory must be bit-deterministic under any partitioning,
match an independent exact-arithmetic Python reference, descend
monotonically, and guard the empty-input case. Oracle parity (Spark ==
DuckDB value hash at sf0.001) is covered for all three registered
queries by tests/test_oracle_parity.py; these tests break the
two-engine circularity with a third implementation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_application_spark.operators.lr_exact import lr_fit_exact

_SF = "/root/testdata/sf0.001"
_C, _D, _ITERS = 10, 64, 8
_STEP, _L2 = 1.5, 0.001


def _emb(spark):
    from flink_application_spark.catalog import register_views

    return register_views(spark, _SF, tables=("embeddings",))["embeddings"]


def _round_half_away(x: np.ndarray) -> np.ndarray:
    # engine round() semantics (Spark HALF_UP / DuckDB away-from-zero),
    # NOT numpy's banker's rounding
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def _reference_fit(x_real: np.ndarray, y: np.ndarray, iters: int, n: int | None = None):
    """Independent replay of the recipe in numpy: ppm quantize, exact
    integer logits/residual/gradient (int64 — magnitudes are ~1e15,
    well inside), one float64 division + half-away round per update.
    The residual downscale uses EXACT integer half-away division — the
    docstring of lr_exact proves this equals the engines' double
    round(R/1e6) for |R| ≤ 2^53."""
    x = np.round(x_real * 1e6)  # fixture coords have no .5μ knife edges
    x = np.hstack([x, np.full((len(x), 1), 1e6)])
    n = len(y) if n is None else n
    w = np.zeros((_C, _D + 1))
    prof = []
    for t in range(1, iters + 1):
        s = x @ w.T  # exact ints in float64 (≤ ~6e13 ≪ 2^53)
        r = s - (np.arange(_C)[None, :] == y[:, None]) * 1e12
        # exact integer half-away-from-zero division by 1e6
        ri = r.astype(np.int64)
        rq = np.where(ri >= 0, (ri + 500_000) // 1_000_000,
                      -((-ri + 500_000) // 1_000_000)).astype(np.float64)
        pred = s.argmax(axis=1)  # ties → lowest class, same as argmin sort
        correct = int((pred == y).sum())
        lrow = (rq * rq).sum(axis=1)
        loss_mu = int(_round_half_away(lrow / 1000.0).sum())
        g = rq.T @ x
        w = _round_half_away(w - _STEP * (g / (n * 1e6) + _L2 * w))
        prof.append((t, loss_mu, correct, int(np.abs(w).sum())))
    return w, prof


def test_matches_exact_python_reference(spark):
    emb = _emb(spark)
    rows = (
        emb.filter("embedding IS NOT NULL AND label IS NOT NULL")
        .select("vec_id", "embedding", "label")
        .orderBy("vec_id")
        .collect()
    )
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    y = np.asarray([r["label"] for r in rows], dtype=np.int64)
    rw, rprof = _reference_fit(x, y, _ITERS)
    w, prof = lr_fit_exact(emb, k_classes=_C, iters=_ITERS)
    assert prof == rprof
    assert np.array_equal(np.asarray(w, dtype=np.float64), rw)


def test_ragged_rows_add_nothing_but_count(spark):
    """A row whose embedding is shorter than the corpus dim scores NULL
    for every class: it must not crash the Arrow gradient pass, and —
    like a NULL-skipping sum — it adds no gradient and no loss, while
    still counting in n. Its all-NULL scores sort to class 0, so it
    counts as correct exactly when its label is 0."""
    emb = _emb(spark)
    short = spark.createDataFrame(
        [(10**9 + i, [(i + 1) / 7] * 16, i % _C) for i in range(5)],
        "vec_id bigint, embedding array<float>, label int",
    )
    rows = (
        emb.filter("embedding IS NOT NULL AND label IS NOT NULL")
        .select("vec_id", "embedding", "label")
        .orderBy("vec_id")
        .collect()
    )
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    y = np.asarray([r["label"] for r in rows], dtype=np.int64)
    rw, rprof = _reference_fit(x, y, 3, n=len(y) + 5)
    w, prof = lr_fit_exact(
        emb.select("vec_id", "embedding", "label").unionByName(short).repartition(4),
        k_classes=_C,
        iters=3,
    )
    short_label0 = sum(1 for i in range(5) if i % _C == 0)
    assert prof == [(t, l, c + short_label0, a) for t, l, c, a in rprof]
    assert np.array_equal(np.asarray(w, dtype=np.float64), rw)


def test_bit_deterministic_under_repartitioning(spark):
    emb = _emb(spark)
    w1, p1 = lr_fit_exact(emb.coalesce(1), k_classes=_C, iters=4)
    w32, p32 = lr_fit_exact(emb.repartition(32), k_classes=_C, iters=4)
    assert p1 == p32  # exact equality — not tolerance
    assert w1 == w32


def test_loss_descends_and_learns(spark):
    _, prof = lr_fit_exact(_emb(spark), k_classes=_C, iters=_ITERS)
    losses = [l for _, l, _, _ in prof]
    corrects = [c for _, _, c, _ in prof]
    assert all(a > b for a, b in zip(losses, losses[1:]))  # strict descent
    assert corrects[-1] > corrects[0]  # accuracy off the zero-init baseline


def test_zero_init_baseline_loss(spark):
    emb = _emb(spark)
    n = emb.filter("embedding IS NOT NULL AND label IS NOT NULL").count()
    _, prof = lr_fit_exact(emb, k_classes=_C, iters=1)
    assert prof[0][1] == n * 1_000_000_000  # n · round(1e12/1e3)


def test_empty_input_returns_empty_profile(spark):
    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label int"
    )
    w, prof = lr_fit_exact(empty, k_classes=_C, iters=3)
    assert w == [] and prof == []


def test_registered_profile_query_schema(spark):
    from flink_application_spark.plans.registry import REGISTRY_GET

    df = REGISTRY_GET("emb_lr_train_exact_profile").spark(spark, _SF)
    assert df.columns == ["iteration", "loss_mu", "correct", "w_l1"]
    rows = df.collect()
    assert [r["iteration"] for r in rows] == list(range(1, _ITERS + 1))


def test_gradient_exact_past_int64(spark):
    """Residual × coordinate sums past 2^63 must not wrap: the chunk
    falls back from the int64 matmul to exact Python ints."""
    from flink_application_spark.operators.lr_exact import _round_cells

    big = 2**31  # squares stay in BIGINT for the engine-side loss
    rows = [
        ([big, -7], [4, 2**40], 0, 0),
        ([big, 5], [3, -(2**41)], 1, 1),
        ([-big, 1], [-1, 2**42], 0, 1),
    ]
    scored = spark.createDataFrame(
        rows, "rqs array<bigint>, e array<bigint>, pred int, label int"
    ).coalesce(1)
    got = {
        (r["class"], r["pos0"]): int(r["g"])
        for r in _round_cells(scored)
        .groupBy("class", "pos0")
        .agg(F.sum("g").alias("g"))
        .collect()
        if r["class"] >= 0
    }
    want = {
        (c, p): sum(rq[c] * e[p] for rq, e, _, _ in rows)
        for c in range(2)
        for p in range(2)
    }
    assert max(abs(v) for v in want.values()) >= 2**63
    assert got == want
