"""The two cosine backends of operators/similarity.py must be
BIT-IDENTICAL — same left-to-right accumulation order, same IEEE
division, same HALF_UP round, NULL for null/ragged/zero-norm
embeddings — and the backend must follow the self-query rule. The fold
form is the arithmetic reference (same pattern as the kmeans/pq
fold-vs-arrow pins)."""

from __future__ import annotations

import pytest

from flink_application_spark.catalog import load_table
from flink_application_spark.operators.similarity import (
    _brute_arrow,
    _brute_fold,
    brute_force_topk,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], r["cosine"], r["rank"]) for r in df.collect()
    )


def test_arrow_equals_fold_on_driver_embeddings(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(emb.vec_id < 8)
    assert _rows(_brute_arrow(q, emb, 7)) == _rows(_brute_fold(q, emb, 7))


def test_arrow_equals_fold_with_null_and_ragged_embeddings(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, None),
        (3, [0.0, 1.0]),  # ragged: dim 2 vs 3
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    q = df.filter(df.vec_id.isin(0, 2))
    got = _rows(_brute_arrow(q, df, 4))
    want = _rows(_brute_fold(q, df, 4))
    assert got == want
    # the NULL-query and NULL/ragged-corpus pairs must be NULL, not NaN
    nulls = [t for t in got if t[2] is None]
    assert nulls, "expected NULL cosines for the null-embedding query"


def test_backends_drop_null_ids_alike(spark):
    """A NULL id on either side must not come back as a neighbor (the
    Arrow kernel once emitted it as -2^63 with a real cosine) nor crash
    the driver-side query collect: both backends drop NULL-id rows."""
    rows = [
        (None, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.1, 0.9]),
        (3, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    got = _rows(_brute_arrow(df, df, 3))
    assert got == _rows(_brute_fold(df, df, 3))
    assert {t[0] for t in got} == {1, 2, 3}
    assert {t[1] for t in got} == {1, 2, 3}


def test_cosine_arrow_bit_equals_fold_pairwise(spark):
    """The generic pairwise Arrow cosine (functions.vectors.cosine_arrow,
    the ivf_topk/ivf_candidates_seeded scorer) must be BIT-equal to the
    fold composition dot/(norm·norm) on every joined pair, including
    NULL and ragged rows (NULL both sides) and the driver embeddings."""
    from pyspark.sql import functions as F

    from flink_application_spark.functions.vectors import cosine, cosine_arrow

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [(9001, None), (9002, [0.5, 0.25]), (9003, [1.0, 2.0, 3.0])],
        "vec_id: long, embedding: array<float>",
    )
    corpus = emb.unionByName(extra)
    q = corpus.filter(F.col("vec_id").isin(0, 1, 9001, 9002)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    pairs = corpus.crossJoin(F.broadcast(q))
    both = pairs.select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("c_fold"),
        F.round(cosine_arrow(F.col("qv"), F.col("embedding")), 6).alias("c_arrow"),
    )
    assert both.count() > 0
    assert (
        both.filter(F.col("c_fold").eqNullSafe(F.col("c_arrow")) == F.lit(False))
        .count()
        == 0
    )


def test_ivf_seeded_scorer_unchanged_by_arrow_swap(spark):
    """ivf_candidates_seeded (now Arrow-scored) must return the exact
    rows the fold scorer produced — re-derive them with the fold here."""
    from pyspark.sql import functions as F

    from flink_application_spark.functions.vectors import cosine
    from flink_application_spark.operators.kmeans import (
        assign_clusters,
        init_centroids,
    )
    from flink_application_spark.operators.pq import d2_lit_sql
    from flink_application_spark.operators.similarity import ivf_candidates_seeded

    emb = load_table(spark, SF, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    got = ivf_candidates_seeded(
        emb.filter(F.col("vec_id") < 5), emb, n_centroids=16, n_probe=4
    )
    cents = init_centroids(emb, 16, "vec_id")
    assigned = assign_clusters(emb, cents).select("vec_id", "embedding", "cluster")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand_arr = F.expr(
        "array("
        + ", ".join(
            f"named_struct('d2', {d2_lit_sql('qv', c)}, 'cluster', {i})"
            for i, c in enumerate(cents)
        )
        + ")"
    )
    probes = q.select(
        "query_id",
        "qv",
        F.explode(F.slice(F.array_sort(cand_arr), 1, 4)).alias("p"),
    ).select("query_id", "qv", F.col("p.cluster").alias("cluster"))
    want = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cosine"),
        )
        .distinct()
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_cosine_arrow_degenerate_vectors_yield_null(spark):
    """Zero-norm and empty vectors score NULL in both pairwise forms,
    the Arrow kernel and the fold — DuckDB's 0/0 → NULL — never an ANSI
    DIVIDE_BY_ZERO (ROADMAP: malformed input must never crash an
    executor)."""
    from pyspark.sql import functions as F

    from flink_application_spark.functions.vectors import cosine, cosine_arrow

    rows = [
        (1, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero-norm left
        (2, [1.0, 2.0, 3.0], [0.0, 0.0, 0.0]),  # zero-norm right
        (3, [], []),                              # empty both sides
        (4, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),  # control: well-formed
    ]
    df = spark.createDataFrame(
        rows, "pid: long, a: array<double>, b: array<double>"
    )
    for fn in (cosine_arrow, cosine):
        got = {
            r["pid"]: r["c"]
            for r in df.select("pid", fn(F.col("a"), F.col("b")).alias("c")).collect()
        }
        assert got[1] is None and got[2] is None and got[3] is None
        assert got[4] is not None and abs(got[4] - 1.0) < 1e-9


def test_topk_scorers_survive_degenerate_corpus_vectors(spark):
    """A zero vector and an empty array in the corpus score NULL in
    every top-k / radius / IVF scorer instead of failing the job; the
    well-formed neighbors keep their cosines."""
    from pyspark.sql import functions as F

    from flink_application_spark.operators.similarity import (
        ivf_candidates_seeded,
        lsh_ann_topk,
        radius_search,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero norm
        (3, []),               # empty
        (4, [-1.0, 0.2, 0.0]),
        (5, [0.3, 0.3, 0.3]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    q = df.filter(F.col("vec_id") < 2)
    want = _rows(_brute_fold(q, df, 5))
    assert want == _rows(_brute_arrow(q, df, 5))
    assert {t[1] for t in want if t[2] is None} == {2, 3}

    def cos(df):
        return {(r["query_id"], r["vec_id"]): r["cosine"] for r in df.collect()}

    exact = {(t[0], t[1]): t[2] for t in want}
    for got in (
        cos(lsh_ann_topk(q, df, k=5, n_bits=2)),
        cos(radius_search(q, df, -1.0)),
        cos(ivf_candidates_seeded(q, df, n_centroids=2, n_probe=2)),
    ):
        assert got and all(exact[p] == c for p, c in got.items() if c is not None)
        assert all(p[1] in (2, 3) for p, c in got.items() if c is None)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_backend_follows_self_query_rule(spark):
    """The one backend rule: the Arrow scorer node (MapInPandas for
    brute force, the `_cos` pandas_udf for IVF) appears only when the
    query set IS the corpus; a query batch — even one holding every
    corpus row under a different plan — runs the JVM fold. Rows are
    equal either way. (The IVF centroid-assignment UDF contributes its
    own ArrowEvalPython in every variant — the scorer is the node that
    switches.)"""
    from pyspark.sql import functions as F

    from flink_application_spark.operators.similarity import (
        ivf_candidates_seeded,
    )

    emb = load_table(spark, SF, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    batch = emb.filter(F.lit(True))  # same rows, different plan
    for build, node in (
        (lambda q: brute_force_topk(q, emb, k=5), "MapInPandas"),
        (lambda q: ivf_candidates_seeded(q, emb, n_centroids=16, n_probe=4), "_cos("),
    ):
        arrow, fold = build(emb), build(batch)
        assert node in _physical(arrow)
        assert node not in _physical(fold)
        assert node not in _physical(build(emb.filter(F.col("vec_id") < 5)))
        rows = sorted(map(tuple, arrow.collect()))
        assert rows == sorted(map(tuple, fold.collect())) and rows


@pytest.mark.parametrize(
    "name,python_scorer",
    [
        ("emb_knn_classify", False),
        ("emb_mmr_diversified_topk", False),
        ("emb_label_noise_knn", True),
        ("emb_label_noise_knn_ann", True),
    ],
)
def test_registered_scorer_backends(spark, name, python_scorer):
    """Registry-level pins of the rule: the bounded query batches score
    on the fold; the full-corpus label-noise audits score in Arrow."""
    from flink_application_spark.plans.registry import REGISTRY_GET

    plan = _physical(REGISTRY_GET(name).spark(spark, SF))
    assert ("MapInPandas" in plan or "_cos(" in plan) == python_scorer


def test_topk_rank_and_tiebreak(spark):
    # two corpus vectors exactly tied in cosine → lower vec_id first
    rows = [
        (10, [1.0, 0.0]),
        (11, [1.0, 0.0]),
        (12, [1.0, 0.0]),
        (13, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    q = df.filter(df.vec_id == 10)
    got = _rows(brute_force_topk(q, df, k=2))
    assert got == [(10, 11, pytest.approx(1.0), 1), (10, 12, pytest.approx(1.0), 2)]
