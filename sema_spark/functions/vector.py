"""Vector math over array columns.

Re-expresses the reference's f32 vector ops
(/root/reference/src/semantic/embeddings.rs:83-88 — L2 norm, dot) in
three forms:

* ``zip_with`` + ``aggregate`` HOFs (:func:`dot`, :func:`l2_norm`,
  :func:`cosine`) — no Python workers, sequential summation
  (bit-compatible with the DuckDB oracle's list_cosine_similarity),
  the right call for small result sets;
* Arrow cosine folds (:func:`cosine_fold_arrow` for two columns,
  :func:`cosine_literal_fold` against one query vector) — the HOF's
  exact sequential arithmetic, vectorized across rows; every semantic
  and vector top-k scores with them;
* :func:`cosine_arrow` — Arrow-batched numpy for BULK re-ranking
  (e.g. 10^5+ blocked candidate pairs).  numpy's pairwise summation
  differs from sequential in the last bits, so use a fold when an
  oracle compares unrounded values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def dot(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null/zero-norm safe (returns NULL)."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def _mat64(va: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(n×dim float64 matrix, null row mask) from an array-column batch.
    Null rows become zero rows (masked back to NULL by the caller).
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
    """Per-row dot products in the EXACT arithmetic of the ``dot`` HOF:
    float64 product per element, then a sequential left-fold add in
    index order.  Vectorized ACROSS rows only — each iteration performs
    one product and one add per row, so every row's accumulator sees
    the identical operation sequence the interpreted
    ``aggregate(zip_with(...))`` performs.  Bit-identical by
    construction (asserted in tests/test_vector_fold.py)."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def _null_safe(values: np.ndarray, null: np.ndarray) -> pd.Series:
    return pd.Series(values).where(~null, other=None)


def cosine_fold_arrow(a, b):
    """Arrow-batched cosine, BIT-IDENTICAL to :func:`cosine` (sequential
    left-fold float64 summation per row — see :func:`_fold_dot`), for
    bulk scoring where the interpreted HOF is the bottleneck but an
    unrounded-value oracle demands the HOF's exact results.  NULL on
    null input or zero denominator, like the HOF path."""

    @pandas_udf(DoubleType())
    def _cos(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A, ma = _mat64(va)
        B, mb = _mat64(vb)
        if (ma | mb).all():
            return _null_safe(np.zeros(len(va)), ma | mb)
        num = _fold_dot(A, B)
        den = np.sqrt(_fold_dot(A, A)) * np.sqrt(_fold_dot(B, B))
        safe = np.where(den != 0.0, den, 1.0)
        return _null_safe(num / safe, ma | mb | (den == 0.0))

    return _cos(a, b)


def cosine_literal_fold(vec, qvec: list[float]):
    """``cosine(vec, lit(qvec))`` bit-identical to the HOF: sequential
    folds for the dot and the row norm; the query norm is folded ONCE
    driver-side with the same scalar arithmetic the HOF would repeat
    per row for a constant array.  NULL on null input or zero
    denominator, matching :func:`cosine`."""
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


def cosine_rows(a: np.ndarray, b: np.ndarray) -> pd.Series:
    """Row-wise cosine of two n×dim float64 matrices (numpy pairwise
    sums; NaN-free: a zero-norm row pair gives NULL like the HOF path)."""
    num = (a * b).sum(axis=1)
    den = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
    out = np.where(den > 0, num / np.where(den > 0, den, 1.0), np.nan)
    return pd.Series(out).where(den > 0, other=None)


@pandas_udf(DoubleType())
def cosine_arrow(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Vectorized :func:`cosine_rows` for bulk pair re-ranking."""
    if len(va) == 0:
        return pd.Series([], dtype="float64")
    a = np.stack(va.map(lambda x: np.asarray(x, dtype=np.float64)))
    b = np.stack(vb.map(lambda x: np.asarray(x, dtype=np.float64)))
    return cosine_rows(a, b)

