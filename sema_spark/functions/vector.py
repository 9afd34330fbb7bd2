"""Vector math over array columns: ONE cosine arithmetic.

Re-expresses the reference's f32 vector ops
(``src/semantic/embeddings.rs:83-88`` — L2 norm, dot) as
float64 products summed by a sequential left fold in index order
(:func:`_fold_dot`), vectorized across an Arrow batch's rows.  It is
bit-identical to the interpreted higher-order-function reference in
``tests/hof_oracles.py`` and to the DuckDB oracle's
``list_cosine_similarity``, so oracles compare unrounded values.  Two
column forms share it: :func:`cosine_fold_arrow` (column × column, via
the matrix form :func:`cosine_rows`) and :func:`cosine_literal_fold`
(column × one query vector, its norm folded once; every vector top-k
scores with it).  Both return NULL on a null input or a zero
denominator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _mat64(va: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(n×dim float64 matrix, null row mask) from an array-column batch.
    Null rows become zero rows, whose zero norm scores NULL.
    Requires equal-length non-null rows — the fixed-dim embedding
    contract every caller of these folds already has.  An all-null
    batch has no dim to take (the matrix is n×1): callers return it
    all-NULL instead of folding."""
    vals = va.tolist()
    mask = np.array([v is None for v in vals], dtype=bool)
    if mask.any():
        dim = next((len(v) for v in vals if v is not None), 1)
        zero = [0.0] * dim
        vals = [zero if v is None else v for v in vals]
    return np.stack([np.asarray(v, dtype=np.float64) for v in vals]), mask


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-row dot products: float64 product per element, then a
    sequential left-fold add in index order.  Vectorized ACROSS rows
    only — each iteration performs one product and one add per row, so
    every row's accumulator sees the identical operation sequence of
    the interpreted reference (bit-identity asserted in
    tests/test_vector_fold.py)."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def _null_safe(values: np.ndarray, null: np.ndarray) -> pd.Series:
    return pd.Series(values).where(~null, other=None)


def cosine_rows(a: np.ndarray, b: np.ndarray) -> pd.Series:
    """Row-wise cosine of two n×dim float64 matrices: :func:`_fold_dot`
    for the dot and both norms; NULL where the denominator is zero."""
    den = np.sqrt(_fold_dot(a, a)) * np.sqrt(_fold_dot(b, b))
    safe = np.where(den != 0.0, den, 1.0)
    return _null_safe(_fold_dot(a, b) / safe, den == 0.0)


def cosine_fold_arrow(a, b):
    """Arrow-batched :func:`cosine_rows` of two array columns.  Null
    rows become zero rows, so they score NULL like a zero norm."""

    @pandas_udf(DoubleType())
    def _cos(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A, ma = _mat64(va)
        B, mb = _mat64(vb)
        if (ma | mb).all():
            return _null_safe(np.zeros(len(va)), ma | mb)
        return cosine_rows(A, B)

    return _cos(a, b)


def cosine_literal_fold(vec, qvec: list[float]):
    """Cosine of each ``vec`` row against the query ``qvec``, in the
    :func:`cosine_rows` arithmetic: sequential folds for the dot and
    the row norm; the query norm is folded ONCE driver-side with the
    same scalar arithmetic a per-row fold would repeat for a constant
    array.  NULL on null input or zero denominator."""
    import math

    q = [float(x) for x in qvec]
    qacc = 0.0
    for x in q:
        qacc = qacc + x * x
    qnorm = math.sqrt(qacc)

    @pandas_udf(DoubleType())
    def _cos(va):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A, mask = _mat64(va)
        if mask.all():
            return _null_safe(np.zeros(len(va)), mask)
        num = np.zeros(A.shape[0], dtype=np.float64)
        na = np.zeros(A.shape[0], dtype=np.float64)
        for j in range(len(q)):
            col = A[:, j]
            num = num + col * q[j]
            na = na + col * col
        den = np.sqrt(na) * qnorm
        safe = np.where(den != 0.0, den, 1.0)
        return _null_safe(num / safe, mask | (den == 0.0))

    return _cos(vec)
