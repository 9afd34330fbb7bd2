"""The production Arrow/numpy minhash signatures must be IDENTICAL to
the interpreted-HOF reference (tests/hof_oracles.py) — the base hash is
the same JVM-side xxhash64 pass (or the same sha256-derived value), so
the two can never disagree on dedup results.  Same contract for
simhash, the agreement-rate estimate and the broadcast pair scorers."""

import pytest
from hof_oracles import estimated_jaccard, minhash_signature, simhash
from pyspark.sql import functions as F

from sema_spark.functions.minhash import tokenize, with_minhash
from sema_spark.operators.dedup import simhash_arrow

ROWS = [
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("b", "the quick brown fox jumps over the lazy dog"),
    ("c", "the quick brown fox leaps over the lazy dog"),
    ("d", "completely different words entirely unrelated text"),
    ("e", None),
    ("f", "   "),  # empty token set → sentinel signature
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(ROWS, "id string, content string")


def _signatures(docs, arrow: bool, base: str = "xxhash64") -> dict:
    """{id: mh_sig} from the production Arrow ``with_minhash`` or, with
    ``arrow=False``, the interpreted-HOF reference."""
    if arrow:
        out = with_minhash(docs, base=base)
    else:
        out = docs.withColumn("mh_sig", minhash_signature(tokenize("content"), base=base))
    return {r.id: r.mh_sig for r in out.select("id", "mh_sig").collect()}


@pytest.mark.parametrize("arrow", [False, True])
def test_minhash_contract(spark, docs, arrow):
    sigs = _signatures(docs, arrow)
    assert sigs["a"] == sigs["b"]  # identical sets → identical signatures
    assert all(len(s) == 64 for s in sigs.values())
    paired = spark.createDataFrame(
        [(sigs["a"], sigs["c"]), (sigs["a"], sigs["d"])], "x array<bigint>, y array<bigint>"
    )
    jac = [r.j for r in paired.select(estimated_jaccard("x", "y").alias("j")).collect()]
    assert jac[0] > 0.6 and jac[1] < 0.2
    # determinism across invocations
    assert _signatures(docs, arrow) == sigs


def test_minhash_paths_value_identical(spark, docs):
    assert _signatures(docs, False) == _signatures(docs, True)


def test_minhash_sha_base(spark, docs):
    """sha base: production and reference identical to each other AND
    to a pure-Python recomputation of the sha256-derived base hash +
    permutation grid (the arithmetic the DuckDB dedup_minhash_sha
    oracle replicates)."""
    import hashlib

    from sema_spark.functions.minhash import _coefficients

    hof = _signatures(docs, False, base="sha")
    arrow = _signatures(docs, True, base="sha")
    assert hof == arrow
    # sha base must differ from xxhash64 base (it's a different hash)
    xx = _signatures(docs, True)
    assert hof["a"] != xx["a"]

    P, H = (1 << 61) - 1, 1 << 31
    A, B = _coefficients(64)
    import re

    for rid, text in ROWS:
        toks = list(dict.fromkeys(t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t))
        hs = [int(hashlib.sha256(t.encode()).hexdigest()[:8], 16) % H for t in toks]
        expect = [min(((a * h + b) % P) % H for h in hs) if hs else P for a, b in zip(A, B)]
        assert hof[rid] == expect, rid


def test_simhash_paths_value_identical(spark, docs):
    out = docs.select(
        "id",
        simhash(F.col("content")).alias("hof"),
        simhash_arrow(F.col("content")).alias("arrow"),
    ).collect()
    for r in out:
        assert r.hof == r.arrow, r.id
        assert len(r.arrow) == 60 and set(r.arrow) <= {"0", "1"}


def test_estimated_jaccard_arrow_value_identical(spark):
    """r7: the Arrow agreement-rate UDF must equal the HOF fold exactly
    (integer agreement count / size — no fp-order freedom exists)."""
    import random

    from pyspark.sql import functions as F

    from sema_spark.functions.minhash import estimated_jaccard_arrow

    rng = random.Random(5)
    rows = []
    for i in range(200):
        a = [rng.randrange(0, 5) for _ in range(64)]
        b = [x if rng.random() < 0.6 else rng.randrange(0, 5) for x in a]
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "id long, a array<bigint>, b array<bigint>")
    got = df.select(
        "id",
        estimated_jaccard(F.col("a"), F.col("b")).alias("hof"),
        estimated_jaccard_arrow(F.col("a"), F.col("b")).alias("arrow"),
    ).collect()
    for r in got:
        assert r.hof == r.arrow, r


def test_embedding_dup_pairs_broadcast_equals_join_path(spark):
    """r7: the broadcast-matrix scoring path must produce the identical
    pair set and identical rounded cosines as the join path (forced by
    an autoBroadcastJoinThreshold the vector table cannot fit)."""
    import random

    from sema_spark.operators.dedup import embedding_dup_pairs

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)]
    # planted near-dups
    rows += [(1000 + i, [x * 1.001 for x in rows[i][1]]) for i in range(10)]
    # two all-zero vectors: both sketch to 0, so they are a candidate
    # pair whose zero-norm cosine is NULL on both scoring paths
    rows += [(2000, [0.0] * 16), (2001, [0.0] * 16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fast = {
        (r.a, r.b): r.cos
        for r in embedding_dup_pairs(df, dim=16, threshold=0.95).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        slow = {
            (r.a, r.b): r.cos
            for r in embedding_dup_pairs(df, dim=16, threshold=0.95).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert fast == slow and len(fast) >= 10
    assert not any({2000, 2001} & {a, b} for a, b in fast)
