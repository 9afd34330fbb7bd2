"""Parity gates: the Arrow fold-order vector UDFs and the batched
encoder must be BIT-IDENTICAL to the interpreted-HOF / per-row
references in tests/hof_oracles.py — these tests are what lets the
production forms ship under unrounded-value oracles."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from hof_oracles import cosine, encode_numpy
from pyspark.sql import functions as F

from sema_spark.functions.encoder import encode_batch_numpy
from sema_spark.functions.vector import cosine_fold_arrow, cosine_literal_fold


def _vec(rng: random.Random, dim: int) -> list[float]:
    # float32-representable components, like the stored embeddings
    return [float(np.float32(rng.uniform(-2, 2))) for _ in range(dim)]


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = random.Random(1234)
    dim = 64
    rows = [(i, _vec(rng, dim), _vec(rng, dim)) for i in range(300)]
    rows.append((len(rows), [0.0] * dim, _vec(rng, dim)))  # zero-norm a
    rows.append((len(rows), _vec(rng, dim), [0.0] * dim))  # zero-norm b
    rows.append((len(rows), None, _vec(rng, dim)))  # null a
    schema = "id long, a array<float>, b array<float>"
    df = spark.createDataFrame(rows, schema)
    # one partition whose every a is null and one whose every b is null:
    # their Arrow batches have no row to take the dim from
    for side in ("a", "b"):
        n = len(rows)
        rows += [
            (n + i, None, _vec(rng, dim)) if side == "a" else (n + i, _vec(rng, dim), None)
            for i in range(4)
        ]
        df = df.union(spark.createDataFrame(rows[n:], schema).coalesce(1))
    return df.localCheckpoint(eager=True)


def test_cosine_fold_bitwise_equals_hof(vec_df):
    got = vec_df.select(
        "id",
        cosine(F.col("a"), F.col("b")).alias("hof"),
        cosine_fold_arrow(F.col("a"), F.col("b")).alias("fold"),
    ).collect()
    for r in got:
        assert (r.hof is None) == (r.fold is None), r
        if r.hof is not None:
            # bitwise equality, not approx — the whole point
            assert math.isclose(r.hof, r.fold, rel_tol=0.0, abs_tol=0.0), r


def test_dot_and_cosine_literal_fold_bitwise(vec_df):
    rng = random.Random(99)
    q = _vec(rng, 64)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    got = vec_df.select(
        "id",
        cosine(F.col("a"), qlit).alias("hof_cos"),
        cosine_literal_fold(F.col("a"), q).alias("fold_cos"),
    ).collect()
    for r in got:
        assert (r.hof_cos is None) == (r.fold_cos is None), r
        if r.hof_cos is not None:
            assert math.isclose(r.hof_cos, r.fold_cos, rel_tol=0.0, abs_tol=0.0), r


def test_encode_batch_matches_per_row():
    rng = random.Random(7)
    cases = [None, "", "ab", "abc", "a" * 1000, "q" * 257, "q" * 258, "q" * 259,
             "café 中文 \U0001f600" * 40, "\n\t edge", "0"]
    alphabet = "abc DEF123 .,!?\né中"
    for _ in range(200):
        cases.append("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 600))))
    batch = encode_batch_numpy(cases)
    for i, t in enumerate(cases):
        assert np.array_equal(batch[i], encode_numpy(t)), (i, repr(t)[:40])
