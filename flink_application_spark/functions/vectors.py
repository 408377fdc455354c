"""Vector column expressions over ``array<float>`` embeddings.

All JVM-side higher-order functions (zip_with/aggregate) — the
embeddings never cross into Python. Arithmetic is double-precision
left-to-right folds, matching the DuckDB oracle's list functions; query
outputs round similarity values so ulp noise can't flip hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """try_divide: a zero-norm or empty side yields NULL (DuckDB's
    0/0 → NULL) instead of an ANSI DIVIDE_BY_ZERO."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_arrow(a: Column, b: Column) -> Column:
    """``cosine(a, b)`` as an Arrow-batched pandas_udf, bit-equal to
    the fold form (pinned in tests/test_similarity_arrow.py): per
    batch, dot and both norms accumulate in the SAME left-to-right
    coordinate order as the zip_with/aggregate folds (one add per
    coordinate, acc from 0.0), and the division happens in the same
    op order — dot / (norm_a * norm_b). Returns the RAW double;
    callers keep ``F.round`` Spark-side (HALF_UP ≠ numpy half-even).

    `operators/similarity.py` decides when a join's pairs are scored
    here instead of by the fold.

    NULL inputs, length-mismatched pairs and zero-norm or empty vectors
    yield NULL, as the fold does: the NaN result is coerced by the
    pandas Float64 masked array to <NA> → SQL NULL. (A non-NULL vector
    containing NULL ELEMENTS arrives in pandas as NaN and propagates as
    NaN where the fold yields NULL — no fixture or corpus this engine
    reads has element-level NULLs; the equality pins would catch one
    appearing.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # hint-less signature: `from __future__ import annotations`
    # stringifies hints beyond pyspark's resolver (see kmeans.py)
    @pandas_udf("double")
    def _cos(xa, xb):
        out = pd.array([None] * len(xa), dtype="Float64")
        mask = (xa.notna() & xb.notna()).to_numpy()
        if not mask.any():
            return pd.Series(out)
        idx = np.flatnonzero(mask)
        la = np.fromiter((len(v) for v in xa.iloc[idx]), dtype=np.int64)
        lb = np.fromiter((len(v) for v in xb.iloc[idx]), dtype=np.int64)
        same = la == lb
        for d in np.unique(la[same]):
            rows = idx[same & (la == d)]
            if d == 0:
                # empty arrays: NaN assigned into the Float64 masked
                # array coerces to <NA> → SQL NULL
                out[rows] = float("nan")
                continue
            A = np.array(xa.iloc[rows].tolist(), dtype=np.float64)
            B = np.array(xb.iloc[rows].tolist(), dtype=np.float64)
            dp = np.zeros(len(rows), dtype=np.float64)
            na = np.zeros(len(rows), dtype=np.float64)
            nb = np.zeros(len(rows), dtype=np.float64)
            for j in range(int(d)):  # fold order: one add per coord
                dp += A[:, j] * B[:, j]
                na += A[:, j] * A[:, j]
                nb += B[:, j] * B[:, j]
            out[rows] = dp / (np.sqrt(na) * np.sqrt(nb))
        return pd.Series(out)

    return _cos(a, b)


def sign_bits(a: Column, n_bits: int) -> Column:
    """Axis-aligned random-hyperplane LSH bucket: the sign pattern of the
    first ``n_bits`` coordinates as a '01' string. Cheap, deterministic,
    and a genuine LSH family for cosine distance (each coordinate is a
    hyperplane through the origin). A coordinate past the end of a
    short or empty vector reads as NULL → '0', as DuckDB's
    out-of-range list index does, instead of an ANSI index error."""
    return F.concat(
        *[
            F.when(F.try_element_at(a, F.lit(i + 1)) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(n_bits)
        ]
    )


def srp_signs(n_bits: int, dim: int, salt: str = "srp") -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix for sign-random-projection:
    sign(bit j, dim k) from the parity of md5(f"{salt}:{j}:{k}").
    Pseudo-random but reproducible in any engine — the same literals
    are inlined into the DuckDB oracle SQL."""
    import hashlib

    if n_bits > 63:
        raise ValueError(
            f"srp signatures are BIGINT-encoded: n_bits must be <= 63, got {n_bits} "
            "(bit 63 would need 2^63, overflowing the signed long literal)"
        )
    return [
        [
            1.0
            if int(hashlib.md5(f"{salt}:{j}:{k}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for k in range(dim)
        ]
        for j in range(n_bits)
    ]


def srp_signature(a: Column, signs: list[list[float]]) -> Column:
    """SimHash-for-vectors: ``n_bits``-bit signature as a BIGINT, bit j
    set iff the dot product with hyperplane j is ≥ 0. Full-rank random
    hyperplanes (vs sign_bits' axis-aligned ones) — the genuine
    Charikar SRP family; P[bit match] = 1 − θ/π. All JVM-side folds."""
    bits = []
    for j, row in enumerate(signs):
        plane = F.array(*[F.lit(s) for s in row])
        d = dot(a, plane)
        bits.append(F.when(d >= 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0).cast("bigint")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out
