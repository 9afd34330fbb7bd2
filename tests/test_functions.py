import numpy as np
import pytest
from hof_oracles import cosine, dot, encode_numpy, estimated_jaccard, l2_norm, minhash_signature
from pyspark.sql import functions as F

from sema_spark.functions.encoder import EMBEDDING_DIM, encode_text
from sema_spark.functions.minhash import char_shingles, explode_bands, tokenize, with_minhash


def test_encoder_contract():
    v = encode_numpy("def compute_total(x): return x")
    assert v.shape == (EMBEDDING_DIM,) and v.dtype == np.float32
    assert abs(np.linalg.norm(v) - 1.0) < 1e-5  # L2-normalized
    # deterministic across calls
    assert np.array_equal(v, encode_numpy("def compute_total(x): return x"))
    # truncation parity: bytes beyond MAX_TOKENS+2 don't matter
    long_a = "x" * 500
    long_b = "x" * 500 + "DIFFERENT TAIL"
    assert np.array_equal(encode_numpy(long_a), encode_numpy(long_b))
    # empty / sub-3-gram safe
    assert np.linalg.norm(encode_numpy("")) == 0.0
    assert np.linalg.norm(encode_numpy("ab")) == 0.0
    assert np.linalg.norm(encode_numpy(None)) == 0.0


def test_encoder_udf_matches_numpy(spark):
    texts = ["hello world", "def f(x): return x", "", "日本語テキスト"]
    texts += [None, "def f(x): return x\n" * 20]  # NULL row; past MAX_TOKENS bytes
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {r.t: r.e for r in df.select("t", encode_text("t").alias("e")).collect()}
    for t in texts:
        assert np.allclose(got[t], encode_numpy(t), atol=1e-6)


def test_vector_functions(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 4.0, 4.0])], "a array<float>, b array<float>"
    )
    row = df.select(
        dot("a", "b").alias("d"),
        l2_norm("a").alias("n"),
        cosine("a", "b").alias("c"),
    ).collect()[0]
    assert row.d == pytest.approx(18.0)
    assert row.n == pytest.approx(3.0)
    assert row.c == pytest.approx(1.0)
    # zero-norm → NULL, not NaN/error
    z = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "a array<float>, b array<float>")
    assert z.select(cosine("a", "b").alias("c")).collect()[0].c is None


def test_tokenize_and_shingles(spark):
    df = spark.createDataFrame([("Hello, WORLD hello",)], "t string")
    toks = df.select(tokenize("t").alias("x")).collect()[0].x
    assert sorted(toks) == ["hello", "world"]
    sh = df.select(char_shingles("t", 3).alias("x")).collect()[0].x
    assert "hel" in sh and "wor" in sh and all(len(s) == 3 for s in sh)
    short = spark.createDataFrame([("ab",), ("",)], "t string")
    assert [r.x for r in short.select(char_shingles("t", 3).alias("x")).collect()] == [[], []]


def test_minhash_properties(spark):
    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over the lazy dog"),
            ("c", "the quick brown fox leaps over the lazy dog"),
            ("d", "completely different words entirely unrelated text"),
        ],
        "id string, content string",
    )
    sigs = {r.id: r.s for r in df.select("id", minhash_signature(tokenize("content")).alias("s")).collect()}
    assert sigs["a"] == sigs["b"]  # identical sets → identical signature
    paired = spark.createDataFrame(
        [(sigs["a"], sigs["c"]), (sigs["a"], sigs["d"])], "x array<bigint>, y array<bigint>"
    )
    jac = [r.j for r in paired.select(estimated_jaccard("x", "y").alias("j")).collect()]
    assert jac[0] > 0.6  # one-word difference
    assert jac[1] < 0.2  # disjoint


def test_lsh_bands_collide_for_near_duplicates(spark):
    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over a lazy dog"),
            ("d", "completely different words entirely unrelated text"),
        ],
        "id string, content string",
    )
    bands = explode_bands(with_minhash(df), ["id"])
    joined = (
        bands.alias("l")
        .join(bands.alias("r"), ["band", "bh"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select("l.id", "r.id")
        .distinct()
        .collect()
    )
    pairs = {(r[0], r[1]) for r in joined}
    assert ("a", "b") in pairs
    assert ("a", "d") not in pairs and ("b", "d") not in pairs
