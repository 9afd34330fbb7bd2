"""Deduplication family for large-scale training-data pipelines.

Five strategies over a document table ``(doc_id, text)`` (the fixed
columns every text operator reads), all shuffle-conscious:

* :func:`exact_dedup` — normalized sha256 groupBy (one shuffle on the
  hash, min-id survivor).
* :func:`minhash_dedup` — word-shingle MinHash → LSH band buckets →
  within-bucket pair generation → signature-Jaccard filter → connected
  components → canonical survivor.  Candidate generation never compares
  across buckets, so cost is Σ bucket² not N².
* :func:`simhash_dedup` — 60-bit simhash (sha256 token base so the
  DuckDB oracle can replicate it); blocking on 4×15-bit bands (Hamming
  ≤ 3 near-dups must collide on ≥ 1 exact band).
* :func:`ngram_jaccard_pairs` — exact character-n-gram Jaccard for
  candidate pairs (the precision re-rank stage after any blocker).
* :func:`embedding_dup_pairs` — cosine near-dup over an embedding column
  using random-hyperplane sign-sketch blocking + exact cosine re-rank.

At 100 TB: every strategy is (blocking-key shuffle) + (bounded local
pair-gen) + (CC on the tiny duplicate-edge graph: the one
:func:`connected_components` over the long ids, numeric min-id
survivor); none materializes the N² pair space.  Giant buckets
(boilerplate text) are capped by ``max_bucket``, the standard
recall/cost dial; the rows the cap drops are not yet counted or
reported.

Each operator has one production path.  Signatures, sketches and pair
scores are Arrow-batched numpy; the interpreted-HOF references they
are value-identical to live in tests/hof_oracles.py.  Pair scoring
broadcasts the id-sorted payload matrix when it fits the session's
broadcast budget (:func:`_broadcast_pair_score`) and joins it onto the
pairs past it; both dedup graphs are built from star edges
(:func:`_star_edges`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from sema_spark.functions.minhash import (
    NUM_PERM,
    agreement_rate,
    char_shingles,
    choose_bands,
    estimated_jaccard_arrow,
    explode_bands,
    sha_token_hashes,
    tokenize,
    with_minhash,
)
from sema_spark.functions.text import content_fingerprint
from sema_spark.plans.materialize import materialize, spread
from sema_spark.functions.vector import cosine_fold_arrow, cosine_rows
from sema_spark.operators.canonicalize import connected_components


def _id_text(df: DataFrame) -> DataFrame:
    """The slim ``(id, t)`` projection of ``(doc_id, text)``, spread
    (r7): the per-document hashing otherwise runs on the scan's
    partitioning — one task for a single-row-group parquet."""
    return spread(df.select(F.col("doc_id").alias("id"), F.col("text").alias("t")), "id")


# ---------------------------------------------------------------------- exact
def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep one row (min doc_id) per normalized-content fingerprint;
    adds group_size.  Single hash-keyed shuffle, no content comparison.
    spread (r7): the normalize+sha map phase otherwise inherits the
    scan's partitioning — one task for a single-row-group parquet."""
    fp = spread(df, "doc_id").withColumn("_fp", content_fingerprint("text"))
    w = Window.partitionBy("_fp")
    return (
        fp.withColumn("group_size", F.count("*").over(w))
        .withColumn("_keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_keep", "_fp")
    )


# -------------------------------------------------------------------- minhash
def _lsh_raw_band_pairs(
    df: DataFrame,
    threshold: float,
    max_bucket: int,
    shingle_words: bool,
    base: str,
    tokens_ready: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front half: ``(mh, raw_pairs)`` where raw_pairs is the
    union over band buckets of within-bucket pair cliques (a < b,
    capped members per bucket), NOT yet deduplicated across buckets and
    NOT yet estimate-verified.

    r7 NEGATIVE RESULT, kept as the r6 shape on measurement: a
    distinct-bucket rewrite (collapse capped buckets by sorted member
    list, enumerate each distinct clique once) was built on the theory
    that the b bands repeat near-identical member sets b times — but
    per-band hash collisions make most member sets DIFFER across
    bands, so the dedup saved little while the clique join collapsed
    onto few keys (ngram sf1.0: 7.2s → 12.5s; + a salted variant:
    33s).  The per-(band, bh) self-join below spreads pair generation
    across 16×#buckets keys and remains the measured best."""
    # materialize the signatures ONCE (the expensive vectorized hash
    # pipeline), then band/join on slim (id, band, bh) rows only — the
    # 64-long signature array never enters the self-join shuffle
    mh = with_minhash(
        _id_text(df),
        text_col="t",
        shingle_words=shingle_words,
        bands=choose_bands(threshold),
        base=base,
        tokens_ready=tokens_ready,
    ).select("id", "mh_sig", "mh_bands").transform(materialize)
    bands = explode_bands(mh, ["id"])
    cap = Window.partitionBy("band", "bh").orderBy("id")
    # materialized: BOTH sides of the self-join reference this subtree,
    # and Catalyst shares no common subtrees — unmaterialized, the
    # explode + window cap runs once per side
    capped = materialize(
        bands.withColumn("_rn", F.row_number().over(cap))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    l, r = capped.alias("l"), capped.alias("r")
    raw = (
        l.join(r, on=["band", "bh"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    return mh, raw


def minhash_candidate_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    shingle_words: bool = True,
    base: str = "xxhash64",
    tokens_ready: bool = False,
) -> DataFrame:
    """(a, b, est_jaccard) pairs with estimated Jaccard ≥ threshold.
    ``shingle_words=False`` switches the similarity measure to char
    3-shingles (the right basis when the downstream re-rank is
    char-n-gram Jaccard — candidate filter and re-rank then estimate
    the SAME quantity).  ``base="sha"`` switches the token base hash to
    a sha256-derived value a DuckDB oracle can replicate."""
    mh, raw = _lsh_raw_band_pairs(df, threshold, max_bucket, shingle_words, base, tokens_ready)
    # pair dedup is the band phase's hot aggregation (each pair repeats
    # once per agreeing band — 8.6M raw → 5.2M distinct at sf0.1): an
    # explicit wide repartition parallelizes the hash-agg past the
    # session's shuffle-partition default (measured 6.2s @32 → 3.2s
    # @4x parts; the rows are 16-byte (a,b) pairs, so tiny partitions
    # stay cache-friendly, and dropDuplicates reuses the partitioning
    # without a second exchange)
    n_parts = 4 * df.sparkSession.sparkContext.defaultParallelism
    cand = raw.repartition(n_parts, "a", "b").dropDuplicates()
    # r7: est-verify via a BROADCAST signature matrix — the r6 shape
    # joined two 64-long signature arrays onto every deduped pair (~33 GB
    # of shuffle at sf1.0's 32M pairs, 48.5s measured), kept past the
    # budget.  Value-identical (pinned by a forced-budget parity test).
    est = _broadcast_pair_score(mh, "mh_sig", NUM_PERM, np.int64, agreement_rate)
    if est is None:
        sig = mh.select("id", "mh_sig")
        cand = cand.join(
            sig.select(F.col("id").alias("a"), F.col("mh_sig").alias("sig_a")), "a"
        ).join(sig.select(F.col("id").alias("b"), F.col("mh_sig").alias("sig_b")), "b")
        est = estimated_jaccard_arrow(F.col("sig_a"), F.col("sig_b"))
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("a", "b", "est_jaccard")
    )


def _drop_cc_losers(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Remove every non-survivor of the duplicate-pair graph from df:
    :func:`connected_components` over the long ids labels each component
    with its numeric min id (the survivor), and every other member is
    left-anti joined away."""
    comp = connected_components(
        pairs.select(F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"))
    )
    losers = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias("_loser"))
    return df.join(losers, df["doc_id"] == F.col("_loser"), "left_anti")


def _star_edges(
    bands: DataFrame, key: str, sketches: DataFrame, col: str, name: str, score
) -> DataFrame:
    """(a=hub, b=member, name) STAR edges of the duplicate graph: per
    (band, key) bucket every member links to the bucket-min-id hub, and
    ``score`` (a Column function of the two ends' ``col`` sketches)
    scores each link.  O(Σ bucket) edges, not O(Σ bucket²); callers
    filter on the score."""
    w = Window.partitionBy("band", key)
    edges = (
        bands.withColumn("hub", F.min("id").over(w))
        .filter(F.col("id") != F.col("hub"))
        .select("hub", "id")
        .distinct()
    )
    sig = sketches.select("id", col)
    return (
        edges.join(sig.select(F.col("id").alias("hub"), F.col(col).alias("sig_a")), "hub")
        .join(sig.select(F.col("id").alias("id"), F.col(col).alias("sig_b")), "id")
        .withColumn(name, score(F.col("sig_a"), F.col("sig_b")))
        .select(F.col("hub").alias("a"), F.col("id").alias("b"), name)
    )


def minhash_dup_edges(df: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Verified duplicate-graph edges in O(Σ bucket), not O(Σ bucket²).

    Per LSH bucket emit STAR edges (bucket-min-id hub → member), then
    keep edges whose signature Jaccard ≥ threshold.  Dedup is the
    transitive closure of verified similarity, so the star spans the
    same components as the full within-bucket clique whenever hub links
    verify — and it is the only shape that survives boilerplate-heavy
    corpora: this repo's own sf0.1 documents table is ~86% near-dups and
    full pair enumeration produced 2.4M candidate pairs from 5k docs
    (measured 25s; the star path is ~6x faster and at 100 TB it is the
    difference between O(N) and O(N²/buckets) edges).

    RECALL CAVEAT (the price of O(Σ bucket)): a member-member duplicate
    whose bucket hubs all fail verification is missed — e.g. bucket
    {A(min), B, C} where sim(B,C) ≥ t but sim(A,·) < t links nothing.
    Each of the b bands contributes an independent hub, so the miss
    probability decays with band count, but it is not zero.  When exact
    pair semantics matter more than scale, pass ``exact_pairs=True`` to
    :func:`minhash_dedup` (full within-bucket cliques via
    :func:`minhash_candidate_pairs`, bounded by its ``max_bucket``
    cap)."""
    mh = with_minhash(
        _id_text(df),
        text_col="t",
        bands=choose_bands(threshold),
    ).select("id", "mh_sig", "mh_bands").transform(materialize)
    return _star_edges(
        explode_bands(mh, ["id"]), "bh", mh, "mh_sig", "est_jaccard", estimated_jaccard_arrow
    ).filter(F.col("est_jaccard") >= threshold)


def minhash_dedup(
    df: DataFrame,
    threshold: float = 0.7,
    exact_pairs: bool = False,
    base: str = "xxhash64",
) -> DataFrame:
    """df minus near-duplicates (min numeric id kept per component).

    Default: CC over verified star edges (O(Σ bucket) — see
    :func:`minhash_dup_edges` for the recall caveat).
    ``exact_pairs=True``: CC over the full verified pair clique
    (O(Σ bucket²), capped per bucket) — every same-bucket pair with
    signature Jaccard ≥ threshold is linked.  ``base="sha"`` makes the
    whole pipeline DuckDB-replicable (the dedup_minhash_sha oracle)."""
    if exact_pairs:
        pairs = minhash_candidate_pairs(df, threshold, base=base)
    else:
        pairs = minhash_dup_edges(df, threshold)
    return _drop_cc_losers(df, pairs)


# -------------------------------------------------------------------- simhash
SIMHASH_BITS = 60  # 15 sha256 hex chars; 4 bands x 15 bits


# token→60-bit-hash memo of simhash_arrow (see sha_token_hashes)
_SIMHASH_TOKEN_MEMO: dict[str, int] = {}


def simhash_arrow(col, num_bits: int = SIMHASH_BITS):
    """Simhash of the word-token set as a ``num_bits``-char bit STRING.

    bit_i = sign of Σ_tokens (±1 per bit i of sha256(token)[0:60]).  A
    bit string (not a long) because Spark's Python API only shifts by
    int literals — string slicing gives the same banding joins with
    plans that stay in whole-stage codegen.  Tokenized JVM-side; the
    memoized per-distinct-token sha256 (:func:`sha_token_hashes`) and
    the numpy sign-sum run in the Python batch.  Value-identical to the
    interpreted-HOF reference in tests/hof_oracles.py (asserted in
    tests/test_minhash_paths.py), which the DuckDB oracle replicates."""
    from pyspark.sql.types import StringType

    def sh_one(tokens) -> str:
        if tokens is None or len(tokens) == 0:
            return "0" * num_bits
        h = np.array(sha_token_hashes(tokens, _SIMHASH_TOKEN_MEMO, 15), dtype=np.uint64)
        bits = np.unpackbits(h.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
        sums = (2 * bits[:, 64 - num_bits :].astype(np.int64) - 1).sum(axis=0)
        return "".join("1" if v > 0 else "0" for v in sums)

    def _impl(s):
        return s.map(sh_one)

    return pandas_udf(_impl, StringType())(tokenize(col))


def hamming_bits(a, b, num_bits: int = SIMHASH_BITS):
    """Hamming distance between equal-length bit strings (JVM-side)."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(num_bits)),
            lambda i: F.when(a.substr(i, F.lit(1)) == b.substr(i, F.lit(1)), 0).otherwise(1),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def simhash_dup_edges(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Verified duplicate-graph star edges for simhash (same O(Σ bucket)
    rationale as :func:`minhash_dup_edges`): block on 4 x 15-bit bands
    (any pair with Hamming ≤ 3 over 60 bits agrees exactly on ≥ 1 of 4
    bands), link members to the bucket-min-id hub, keep links with
    Hamming ≤ max."""
    sh = (
        _id_text(df)
        .select("id", simhash_arrow(F.col("t")).alias("sh"))
        .transform(materialize)
    )
    bands = sh.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda j: F.struct(
                    j.cast("int").alias("band"),
                    F.col("sh").substr(j * 15 + 1, F.lit(15)).alias("key"),
                ),
            )
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    return _star_edges(bands, "key", sh, "sh", "hamming", hamming_bits).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_dedup(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """df minus simhash near-duplicates (min numeric id kept per
    component): CC over verified star edges — O(Σ bucket), with the
    same RECALL CAVEAT as :func:`minhash_dup_edges`: a member-member
    pair with Hamming ≤ max_hamming whose bucket hubs all fail
    verification is silently missed (each of the 4 bands contributes an
    independent hub, so misses decay with band count but are not
    zero)."""
    return _drop_cc_losers(df, simhash_dup_edges(df, max_hamming))


# ------------------------------------------------------------- ngram jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    max_universe: int = 8192,
) -> DataFrame:
    """Exact character-n-gram Jaccard ≥ threshold for LSH candidates.

    Candidates come from CHAR-shingle minhash banding (same measure the
    exact verify computes) at 0.78x the target — 16 bands × 4 rows, so
    a true J = threshold pair collides with p ≈ 0.9998 (the recall the
    exact all-pairs oracle demands).  Verification is two-path on the
    measured n-gram universe size |U| (one tiny distinct-count):

    * |U| ≤ max_universe (small-alphabet corpora — code, ASCII prose;
      3-gram universes are charset³-bounded): grams are dictionary-
      encoded into a ⌈|U|/64⌉-long fixed-width BITMAP per doc and every
      RAW band pair is verified EXACTLY via unrolled ``bit_count(a&b)``
      — pure whole-stage-codegen integer ops, no arrays, no lambdas.
      Exactness makes the est tier AND the cross-band pair dedup
      unnecessary (dedup of 8.6M → 5.2M pairs was the measured hot
      aggregation at sf0.1; popcount-verifying the duplicates is
      cheaper than deduplicating them), and the dictionary makes it
      collision-free by construction.  Measured at sf0.1: 13.3s (r3
      est + hashed-array path) → ~5s.

    * |U| > max_universe: the general path — est-filter (3.5σ margin at
      64 perms → candidate threshold 0.78x) on deduplicated pairs, then
      a size-ratio prune (J ≤ min|G|/max|G|, recall-exact) and a
      union-free xxhash64(gram)-array intersect (|A∪B| = |A|+|B|−|∩|;
      collision absence asserted in tests/test_dedup.py).  The est tier
      is an interpreted zip_with HOF and was slated for removal in r5 —
      but the MEASUREMENT went the other way (sf0.1 forced-fallback,
      best-of-3): est path 11.6s, est removed 15.8s (+36%), size-prune-
      before-est hybrid 11.6s.  est kills 5.23M → 1.66M pairs at 64
      interpreted ops each, which is cheaper than the ~|G|-element
      array_intersect it saves on the 3.57M pairs it removes (the size
      prune alone only reaches 3.24M).  Kept, with the numbers.

    At 100 TB: both paths keep the payload out of the self-join — the
    band stream is (band, bh, id) rows; the bitmap (resp. gram-array)
    table joins in by id afterwards, broadcast when it fits, shuffle
    otherwise.  The bitmap path's dictionary is ≤ max_universe rows —
    always broadcastable; its per-doc payload is ⌈|U|/64⌉+2 longs,
    independent of doc length.

    NOTE: constructing this plan EXECUTES Spark jobs (the shingle-scan
    materialize and the |U| distinct-count probe) — the physical
    strategy is chosen from the data at build time, so building
    without collecting still costs two small jobs, and plan-shape
    tests must pick their path via ``max_universe``."""
    # ONE shingle scan feeds everything: the universe probe, and either
    # the bitmap encoding or the fallback's hashed arrays + sizes.
    # spread (r7): the shingle regex otherwise runs on the scan's
    # partitioning — one task for a single-row-group parquet
    gsets = materialize(_id_text(df).select("id", char_shingles(F.col("t"), n).alias("gs")))
    # the shingle arrays as the band stage's (doc_id, text) input
    shingled = gsets.select(F.col("id").alias("doc_id"), F.col("gs").alias("text"))
    ex = gsets.select("id", F.explode("gs").alias("gram"))
    udict = ex.select("gram").distinct()
    u = udict.count()  # driver scalar: picks the verify path at plan time
    if 0 < u <= max_universe:
        return _ngram_bitmap_pairs(shingled, ex, udict, u, threshold, max_bucket)
    cand = minhash_candidate_pairs(
        shingled,
        threshold=threshold * 0.78, max_bucket=max_bucket, shingle_words=False,
        tokens_ready=True,
    )
    grams = gsets.select(
        "id", F.transform(F.col("gs"), lambda g: F.xxhash64(g)).alias("g")
    )
    # size-ratio prune BEFORE any gram array ships: char_shingles is
    # distinct, so |G| = size(g) exactly, and J(A,B) ≤ min|G|/max|G| —
    # a pair failing the ratio can never reach the threshold, so the
    # prune is recall-exact.  Division (not threshold*greatest) keeps
    # the boundary fp-safe: min/max and the threshold literal round to
    # the same double when equal as rationals.
    sizes = grams.select("id", F.size("g").alias("sz"))
    pruned = (
        cand.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb")), "b")
        .filter(
            F.least("sza", "szb").cast("double")
            / F.greatest("sza", "szb").cast("double")
            >= F.lit(float(threshold))
        )
        .select("a", "b", "sza", "szb")
    )
    ga = grams.select(F.col("id").alias("a"), F.col("g").alias("ga"))
    gb = grams.select(F.col("id").alias("b"), F.col("g").alias("gb"))
    # union-free: |A∪B| = |A|+|B|-|∩| from the sizes already in hand, so
    # only array_intersect runs per pair — array_union was the costlier
    # half (it materializes a fresh merged array per pair just to take
    # its size)
    return (
        pruned.join(ga, "a")
        .join(gb, "b")
        # separate withColumn: the intersect must be a named column so
        # the jaccard expression references it twice without Catalyst
        # possibly evaluating the array op twice
        .withColumn("_i", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("_i")
            / F.nullif(
                (F.col("sza") + F.col("szb") - F.col("_i")).cast("double"),
                F.lit(0.0),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _ngram_bitmap_pairs(
    shingled: DataFrame,
    ex: DataFrame,
    udict: DataFrame,
    u: int,
    threshold: float,
    max_bucket: int,
) -> DataFrame:
    """Small-universe exact verify (see :func:`ngram_jaccard_pairs`).

    ``shingled`` holds the shingle arrays as ``(doc_id, text)`` band
    input, ``ex`` the exploded (id, gram) stream, ``udict`` its distinct
    grams, ``u`` their count.  Builds (id, sz, w0..w{W-1}) bitmaps and
    popcount-verifies every raw band pair; duplicate band pairs are
    verified redundantly and deduplicated only after the threshold
    filter, when they number in the hundreds.

    The raw stream is the per-(band, bh) clique union of
    :func:`_lsh_raw_band_pairs`.  The bitmap table broadcasts when it
    fits the session budget (the same adaptive dial as
    embedding_dup_pairs' scoring path)."""
    n_words = (u + 63) // 64
    # deterministic dictionary: rank by gram; ≤ max_universe rows, so a
    # single-partition window is fine at any corpus scale
    dct = udict.withColumn("idx", F.row_number().over(Window.orderBy("gram")) - 1)
    enc = ex.join(F.broadcast(dct), "gram").select("id", "idx")
    word = (F.col("idx") / 64).cast("int")
    # shiftleft via SQL expr: the Python F.shiftleft only takes int
    # literal amounts.  Summing distinct powers of two IS bitwise OR
    # (grams are distinct per doc → bits are distinct → no carries,
    # including two's-complement wraparound at bit 63).
    bit = F.expr("shiftleft(1L, cast(idx % 64 as int))")
    bm = materialize(
        enc.groupBy("id").agg(
            F.count("*").alias("sz"),
            *[
                F.sum(F.when(word == w, bit).otherwise(F.lit(0))).alias(f"w{w}")
                for w in range(n_words)
            ],
        )
    )
    _, raw = _lsh_raw_band_pairs(
        shingled, threshold * 0.78, max_bucket, False, "xxhash64", tokens_ready=True
    )
    bm_side = (
        (lambda d: F.broadcast(d))
        if bm.count() * (2 + n_words) * 8 <= _broadcast_budget(shingled.sparkSession)
        else (lambda d: d)
    )
    ba = bm_side(bm.select(
        F.col("id").alias("a"),
        F.col("sz").alias("sza"),
        *[F.col(f"w{w}").alias(f"_a{w}") for w in range(n_words)],
    ))
    bb = bm_side(bm.select(
        F.col("id").alias("b"),
        F.col("sz").alias("szb"),
        *[F.col(f"w{w}").alias(f"_b{w}") for w in range(n_words)],
    ))
    inter = F.lit(0)
    for w in range(n_words):
        inter = inter + F.bit_count(F.col(f"_a{w}").bitwiseAND(F.col(f"_b{w}")))
    return (
        raw.join(ba, "a")
        .join(bb, "b")
        .withColumn("_i", inter)
        .withColumn(
            "jaccard",
            F.col("_i")
            / F.nullif(
                (F.col("sza") + F.col("szb") - F.col("_i")).cast("double"),
                F.lit(0.0),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .dropDuplicates(["a", "b"])
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------- embedding cosine
def _broadcast_budget(spark) -> int:
    """Bytes the vector table may occupy to qualify for broadcast-matrix
    scoring — the session's autoBroadcastJoinThreshold (the same dial
    that governs every other broadcast-vs-shuffle decision), floored at
    the 10 MB Spark default when unparsable."""
    import re

    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    m = re.fullmatch(r"(\d+)([kmg]?)b?", raw.lower().strip())
    if not m:
        return 10 * 1024 * 1024
    return int(m.group(1)) * {"": 1, "k": 2**10, "m": 2**20, "g": 2**30}[m.group(2)]


def _broadcast_pair_score(table: DataFrame, col: str, width: int, dtype, score):
    """Score column over the (a, b) id columns of a pair frame via a
    BROADCAST matrix of ``table``'s (id, ``col``) rows, or None when the
    n×width matrix exceeds :func:`_broadcast_budget` (callers then join
    the payload onto the pairs instead).

    r7 (guide §8 "decide with small rows, move big rows once", §3.1
    broadcast-vs-shuffle): the pairs stay two ids wide and the payload
    ships once per executor instead of twice per pair through id joins.
    ``score(A, B)`` maps the two ends' row matrices (``dtype``) to a
    pd.Series; ids resolve by ``searchsorted`` over the id-sorted matrix
    (a dict ``.map`` was measured as the batch bottleneck at ~16M
    candidate pairs)."""
    spark = table.sparkSession
    if table.count() * width * 8 > _broadcast_budget(spark):
        return None
    pdf = table.select("id", col).toPandas()
    ids = pdf["id"].to_numpy()
    M = np.stack(pdf[col].map(lambda x: np.asarray(x, dtype=dtype)))
    order = np.argsort(ids, kind="stable")
    bc = spark.sparkContext.broadcast((ids[order], M[order]))

    @pandas_udf("double")
    def _pair_score(a: pd.Series, b: pd.Series) -> pd.Series:
        sorted_ids, mat = bc.value
        ia = np.searchsorted(sorted_ids, a.to_numpy())
        ib = np.searchsorted(sorted_ids, b.to_numpy())
        return score(mat[ia], mat[ib])

    return _pair_score("a", "b")


_PLANES_SEED = 1234


def _planes(dim: int, num_bits: int) -> np.ndarray:
    rng = np.random.default_rng(_PLANES_SEED)
    return rng.standard_normal((dim, num_bits)).astype(np.float32)


def hyperplane_sketch(dim: int, num_bits: int = 16):
    """pandas UDF: embedding → int64 sign-sketch (random hyperplane LSH).

    Cosine-similar vectors agree on most sign bits; planes are a fixed
    seeded matrix instantiated once per worker.
    """
    planes = _planes(dim, num_bits)

    @pandas_udf(LongType())
    def sketch(v: pd.Series) -> pd.Series:
        m = np.stack(v.map(lambda x: np.asarray(x, dtype=np.float32)))
        signs = (m @ planes) > 0
        weights = (1 << np.arange(num_bits, dtype=np.int64))
        return pd.Series((signs @ weights).astype(np.int64))

    return sketch


def embedding_dup_pairs(
    df: DataFrame,
    dim: int = 64,
    threshold: float = 0.95,
    num_bits: int = 16,
) -> DataFrame:
    """Cosine ≥ threshold ``(vec_id, embedding)`` pairs: sketch-block (exact 16-bit agreement)
    then exact cosine re-rank.  High thresholds keep blocking recall
    honest: at cos ≥ 0.95 the probability all 16 sign bits agree is
    (1 - arccos(0.95)/π)^16 ≈ 0.27 per band; we use 4 rotated bands of the
    sketch bits via bit-rotation keys to boost recall.

    Shuffle discipline (mirrors minhash_candidate_pairs): the band
    self-join runs on SLIM (id, band, key) rows — the embedding array
    never enters the exploded-band shuffle (round 1 pushed 4 copies of
    every vector through it and ran distinct() over float-array rows).

    r7 scoring path: when the whole vector table fits the session's
    broadcast budget, the candidate pairs are scored against a
    broadcast vector matrix (:func:`_broadcast_pair_score`; the r6 shape
    shuffled ~2 vector copies per candidate through two id joins:
    measured 15.2M candidate pairs × 2×64 floats ≈ 8 GB of vector
    traffic at sf1.0 — 12.4s of the query).  The pre-scoring
    pair ``distinct`` is dropped on this path: multi-band duplicates
    are scored redundantly (cheap against the broadcast matrix) and
    deduplicated AFTER the threshold filter, when they number in the
    dozens — same output multiset, the cosine is identical per copy.
    Tables past the broadcast budget keep the r6 join path (at that
    scale the dedup-then-join trade wins again)."""
    sk = hyperplane_sketch(dim, num_bits)
    base = (
        spread(df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")), "id")
        .withColumn("sk", sk(F.col("v")))
        .transform(materialize)
    )
    bands = _sketch_bands(base, num_bits)
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(r, on=["band", "key"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    # the same float64 rows and fold arithmetic as cosine_fold_arrow
    cos = _broadcast_pair_score(base, "v", dim, np.float64, cosine_rows)
    if cos is not None:
        return (
            cand.withColumn("cos", cos)
            .filter(F.col("cos") >= threshold)
            .dropDuplicates(["a", "b"])
            .select("a", "b", F.round("cos", 6).alias("cos"))
        )
    vec = base.select("id", "v")
    return (
        cand.distinct()
        .join(vec.select(F.col("id").alias("a"), F.col("v").alias("va")), "a")
        .join(vec.select(F.col("id").alias("b"), F.col("v").alias("vb")), "b")
        .withColumn("cos", cosine_fold_arrow(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos"))
    )


def _sketch_bands(base: DataFrame, num_bits: int) -> DataFrame:
    """SLIM (id, band, key) band rows from a sketched base — the only
    columns allowed into the self-join shuffle (schema asserted in
    tests/test_plans.py)."""
    # 4 bands: overlapping half-width windows of the sketch bits → ORed
    # recall.  Arithmetic div/mod instead of bit shifts (the Python API
    # only shifts by int literals, not columns).
    half = 1 << (num_bits // 2)
    return base.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda j: F.struct(
                    j.cast("int").alias("band"),
                    F.pmod(
                        F.floor(F.col("sk") / F.pow(F.lit(2.0), (j * (num_bits // 4)).cast("double"))),
                        F.lit(half),
                    ).cast("long").alias("key"),
                ),
            )
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
