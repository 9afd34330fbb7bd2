import pytest
from hof_oracles import minhash_signature, simhash
from pyspark.sql import functions as F

from sema_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dedup,
    minhash_candidate_pairs,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
    simhash_dup_edges,
)

BASE = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, "  " + BASE.upper() + "  "),  # normalized-exact dup of 0
        (3, BASE.replace("jumps", "leaps")),  # near dup
        (4, "completely different content about spark dataframes and shuffles at scale"),
        (5, "another unrelated document mentioning catalyst optimizer and codegen"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    kept = exact_dedup(docs)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 in ids and 1 not in ids and 2 not in ids
    assert {3, 4, 5} <= ids
    sizes = {r.doc_id: r.group_size for r in kept.select("doc_id", "group_size").collect()}
    assert sizes[0] == 3 and sizes[3] == 1


def test_minhash_candidates_and_dedup(spark, docs):
    pairs = {(r.a, r.b) for r in minhash_candidate_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and (0, 3) in pairs
    assert not any({a, b} == {0, 4} or {a, b} == {4, 5} for a, b in pairs)
    kept = {r.doc_id for r in minhash_dedup(docs, threshold=0.5).select("doc_id").collect()}
    assert kept == {0, 4, 5}  # 1,2,3 all collapse into 0's component


def test_simhash_blocking(spark):
    """Simhash is a long-document sketch: a couple of changed words in a
    150-word doc moves only a few of 64 bits (tiny docs flip many — see
    the hamming=10 measurement for a 16-word doc in the module history)."""
    words = [f"tok{i}" for i in range(150)]
    rows = [
        (0, " ".join(words)),
        (1, " ".join(words)),  # identical
        (2, " ".join(words + ["suffixword"])),  # near dup (measured ham=1)
        (3, " ".join(f"other{i}" for i in range(150))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.s for r in docs.select("doc_id", simhash(F.col("text")).alias("s")).collect()}
    assert sh[0] == sh[1]
    # star edges: 0 is the min-id hub of every bucket 1 and 2 share with it
    pairs = {(r.a, r.b): r.hamming for r in simhash_dup_edges(docs, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 3
    assert not any(3 in p for p in pairs)
    kept = {r.doc_id for r in simhash_dedup(docs, max_hamming=3).select("doc_id").collect()}
    assert kept == {0, 3}


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and 0.8 <= pairs[(0, 3)] < 1.0


def test_ngram_hash_collision_free(spark):
    """The re-rank computes Jaccard over xxhash64(gram) instead of gram
    strings; |∩|/|∪| is identical iff no two distinct grams collide.
    Assert absence over BOTH corpora the re-rank actually runs on: the
    driver-gate corpus (sf0.01) and the bench corpus (sf0.1)."""
    from sema_spark.functions.minhash import char_shingles

    for sf in ("sf0.01", "sf0.1"):
        docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        g = docs.select(F.explode(char_shingles(F.col("text"), 3)).alias("g")).distinct()
        n_grams = g.count()
        n_hashes = g.select(F.xxhash64("g")).distinct().count()
        assert n_grams == n_hashes, sf


def test_embedding_dup_pairs(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    v0 = rng.standard_normal(64)
    v1 = v0 + rng.standard_normal(64) * 0.05  # near dup
    v2 = rng.standard_normal(64)  # unrelated
    rows = [(i, [float(x) for x in v]) for i, v in enumerate([v0, v1, v2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_dup_pairs(df, dim=64, threshold=0.9).collect()
    assert {(r.a, r.b) for r in pairs} == {(0, 1)}
    assert pairs[0].cos > 0.99


def test_dedup_negative_ids_keep_numeric_min(spark):
    """Sign-safe id encoding: among negative ids the NUMERIC min
    survives (raw zero-padding would invert the order of negatives)."""
    rows = [(-13, BASE), (-12, BASE), (7, BASE), (-20, "totally unrelated words here and more")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in minhash_dedup(docs, threshold=0.5).select("doc_id").collect()}
    assert kept == {-13, -20}


def test_minhash_dedup_exact_pairs_mode(spark, docs):
    kept = {r.doc_id for r in minhash_dedup(docs, threshold=0.5, exact_pairs=True).select("doc_id").collect()}
    assert kept == {0, 4, 5}


def test_ngram_two_paths_agree(spark, docs):
    """The bitmap exact-verify path (small universe) and the est +
    hashed-array fallback must return the same pair set and jaccards.
    ``max_universe=1`` forces the fallback on the same input the
    default run answers with the bitmap path."""
    fast = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    slow = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.8, max_universe=1).collect()
    }
    assert fast == slow and fast  # identical, and non-empty

    # word-63 boundary: a universe > 64 grams exercises multi-word
    # bitmaps including bit 63 (sign bit of the long)
    import string

    alphabet = string.ascii_lowercase + string.digits
    long_docs = spark.createDataFrame(
        [
            (0, alphabet + alphabet[::-1]),
            (1, alphabet + alphabet[::-1]),          # exact dup
            (2, alphabet),                           # subset, J < 0.8
        ],
        "doc_id long, text string",
    )
    got = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(long_docs, threshold=0.8).collect()}
    assert got == {(0, 1): 1.0}


def test_numeric_cc_matches_string_cc(spark):
    """connected_components over long ids (negative ids, chains, cliques)
    gives the same (id, component) set on the driver tier, on the
    distributed tier, and over an order-preserving string encoding of
    the same ids — component = numeric min id in every case."""
    import random

    from sema_spark.operators.canonicalize import connected_components

    rng = random.Random(17)
    edges = [(-5, 3), (3, 9), (100, 101)]  # chain crossing zero + pair
    nodes = list(range(-50, 200, 7))
    for _ in range(300):
        a, b = rng.choice(nodes), rng.choice(nodes)
        if a != b:
            edges.append((min(a, b), max(a, b)))
    e = spark.createDataFrame(edges, "a long, b long")
    driver = {(r.id, r.component) for r in connected_components(e).collect()}
    dist = {(r.id, r.component) for r in connected_components(e, driver_max_edges=0).collect()}
    # offset into unsigned, then zero-pad: string order == numeric order
    enc = lambda x: f"{x + 2**63:020d}"
    se = spark.createDataFrame([(enc(a), enc(b)) for a, b in edges], "a string, b string")
    via_str = {
        (int(r.id) - 2**63, int(r.component) - 2**63)
        for r in connected_components(se).collect()
    }
    assert driver == dist == via_str
    assert {(3, -5), (9, -5), (101, 100)} <= driver


def test_sha_signature_memo_path_value_identical(spark):
    """r7: the memoized-Python sha base path must produce the identical
    signatures as the JVM sha base of the interpreted-HOF reference."""
    from pyspark.sql import functions as F

    from sema_spark.functions.minhash import tokenize, with_minhash

    docs = spark.createDataFrame(
        [(i, f"alpha beta_{i % 7} gamma DELTA_{i % 3} é中 x") for i in range(40)]
        + [(99, ""), (100, None)],
        "id long, content string",
    )
    fast = with_minhash(docs, base="sha").select("id", "mh_sig")
    slow = docs.withColumn("mh_sig", minhash_signature(tokenize(F.col("content")), base="sha")).select(
        "id", "mh_sig"
    )
    got = {r.id: r.mh_sig for r in fast.collect()}
    want = {r.id: r.mh_sig for r in slow.collect()}
    assert got == want


def test_minhash_est_broadcast_equals_join_path(spark):
    """r7: broadcast-matrix scoring must yield identical pairs as the
    payload-join path (forced by shrinking the broadcast budget), for
    the minhash estimate and for the embedding cosine — whose scores
    also equal the interpreted HOF reference's at round 6."""
    import numpy as np
    from hof_oracles import cosine

    from sema_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + ("x" * (i % 4)))
         for i in range(60)],
        "doc_id long, text string",
    )
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((8, 64)).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in centers[i % 8] + rng.standard_normal(64).astype(np.float32) * 0.01])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )

    def run():
        return (
            {(r.a, r.b, r.est_jaccard) for r in minhash_candidate_pairs(docs).collect()},
            {(r.a, r.b, r.cos) for r in embedding_dup_pairs(vecs).collect()},
        )

    fast = run()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        slow = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for f, s in zip(fast, slow):
        assert f == s and len(f) > 0
    l = vecs.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    r = vecs.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    ref = {
        (x.a, x.b, x.cos)
        for x in l.join(r, F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine("va", "vb"), 6).alias("cos"))
        .collect()
    }
    assert fast[1] <= ref
