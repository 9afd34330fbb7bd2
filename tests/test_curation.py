"""Curation-operator tests: adversarial edges the sf-corpus can't hit
(empty text, single word, all-duplicate passages, PII boundary shapes),
plus cross-checks against independent pure-Python computations.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from sema_spark.operators.curation import (
    decontaminate,
    dedup_passages,
    redact_pii,
    repetition_signals,
    sha_bucket,
    stratified_sample,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ------------------------------------------------------------ decontaminate
def test_decontaminate_flags_shared_ngrams(spark):
    docs = _df(
        spark,
        [
            (1, "alpha beta gamma delta"),      # shares "alpha beta gamma"
            (2, "delta epsilon zeta eta"),      # no shared 3-gram
            (3, "x y"),                          # too short for a 3-gram
        ],
        "doc_id long, text string",
    )
    bench = _df(spark, [(99, "zzz alpha beta gamma qqq")], "doc_id long, text string")
    got = {r["doc_id"]: r["contaminated"] for r in decontaminate(docs, bench, n=3).collect()}
    assert got == {1: True, 2: False, 3: False}


def test_decontaminate_benchmark_side_broadcasts(spark):
    docs = _df(spark, [(1, "a b c d")], "doc_id long, text string")
    bench = _df(spark, [(9, "a b c")], "doc_id long, text string")
    plan = decontaminate(docs, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ------------------------------------------------------------ dedup_passages
def _py_dedup_passages(rows, k=3):
    """Independent reference: global first-occurrence passage dedup."""
    passages = []  # (doc_id, pos, passage)
    for doc_id, text in rows:
        w = text.split()
        for pos, i in enumerate(range(0, len(w), k)):
            passages.append((doc_id, pos, " ".join(w[i : i + k])))
    first = {}
    for doc_id, pos, p in sorted(passages):
        first.setdefault(p, (doc_id, pos))
    out = {}
    for doc_id, text in rows:
        kept = [p for d, pos, p in sorted(passages) if d == doc_id and first[p] == (d, pos)]
        total = len([1 for d, _, _ in passages if d == doc_id])
        out[doc_id] = (" ".join(kept), total, len(kept))
    return out


def test_dedup_passages_matches_python_reference(spark):
    rows = [
        (1, "a b c d e f"),            # passages: "a b c", "d e f"
        (2, "a b c x y z"),            # "a b c" duplicates doc 1 pos 0
        (3, "d e f d e f"),            # first "d e f" loses to doc1 pos1; second loses too
        (4, "solo"),                    # single short passage
    ]
    expected = _py_dedup_passages(rows, k=3)
    docs = _df(spark, rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_passages"], r["n_kept"])
        for r in dedup_passages(docs, passage_words=3).collect()
    }
    assert got == expected
    # doc 3 must be fully emptied: both its passages duplicate doc 1's
    assert got[3] == ("", 2, 0)


def test_dedup_passages_order_preserved_within_doc(spark):
    # surviving passages must be reassembled in original position order
    rows = [(1, "p q r s t u v w x")]  # 3 passages, all unique
    docs = _df(spark, rows, "doc_id long, text string")
    (row,) = dedup_passages(docs, passage_words=3).collect()
    assert row["clean_text"] == "p q r s t u v w x"


# -------------------------------------------------------- repetition_signals
def test_repetition_signals_values(spark):
    docs = _df(
        spark,
        [(1, "spam spam spam ok"), (2, "ten fully distinct words compose this quite varied sample text")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    r1, r2 = got[1], got[2]
    assert r1["n_words"] == 4 and r1["top_word_frac"] == pytest.approx(0.75)
    # bigrams of doc1: "spam spam" x2, "spam ok" -> dup frac 1 - 2/3
    assert r1["dup_bigram_frac"] == pytest.approx(1 - 2 / 3, abs=1e-6)
    assert not r1["keep"]
    assert r2["top_word_frac"] == pytest.approx(0.1) and r2["dup_bigram_frac"] == 0.0
    assert r2["keep"]


def test_repetition_signals_single_word_doc(spark):
    docs = _df(spark, [(1, "word")], "doc_id long, text string")
    (r,) = repetition_signals(docs).collect()
    assert r["n_words"] == 1 and r["dup_bigram_frac"] == 0.0
    assert r["mean_word_len"] == pytest.approx(4.0)


# ------------------------------------------------------------------ redact_pii
def test_redact_pii_all_kinds(spark):
    docs = _df(
        spark,
        [(1, "mail a.b+c@x-y.org call 555-123-4567 host 192.168.0.1 done")],
        "doc_id long, text string",
    )
    ex = redact_pii("text")
    (r,) = docs.select(*[v.alias(k) for k, v in ex.items()]).collect()
    assert r["redacted"] == "mail <EMAIL> call <PHONE> host <IPV4> done"
    assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (1, 1, 1)


def test_redact_pii_email_wins_over_phone_local_part(spark):
    # an email whose local part looks phone-ish must redact as ONE email
    docs = _df(spark, [(1, "x 555-123-4567@mail.com y")], "doc_id long, text string")
    ex = redact_pii("text")
    (r,) = docs.select(*[v.alias(k) for k, v in ex.items()]).collect()
    assert r["redacted"] == "x <EMAIL> y"
    # counts equal ACTUAL substitutions: the phone-shaped local part was
    # consumed by the email redaction, so zero phones were redacted
    assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (1, 0, 0)


def test_redact_pii_no_pii_is_identity(spark):
    docs = _df(spark, [(1, "nothing to see here 12345")], "doc_id long, text string")
    ex = redact_pii("text")
    (r,) = docs.select(*[v.alias(k) for k, v in ex.items()]).collect()
    assert r["redacted"] == "nothing to see here 12345"
    assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (0, 0, 0)


# ------------------------------------------------------- stratified_sample
def _py_bucket(key: str, buckets: int = 10_000) -> int:
    return int(hashlib.sha256(key.encode()).hexdigest()[:8], 16) % buckets


def test_sha_bucket_matches_hashlib(spark):
    df = _df(spark, [(str(i),) for i in range(50)], "k string")
    got = {r["k"]: r["b"] for r in df.select("k", sha_bucket("k").alias("b")).collect()}
    assert got == {str(i): _py_bucket(str(i)) for i in range(50)}


def test_stratified_sample_exact_membership(spark):
    rows = [(i, "en" if i % 2 == 0 else "xx") for i in range(200)]
    df = _df(spark, rows, "doc_id long, lang string")
    kept = {r["doc_id"] for r in stratified_sample(df, {"en": 0.3}).collect()}
    expected = {i for i, lang in rows if lang == "en" and _py_bucket(str(i)) < 3000}
    assert kept == expected
    assert all(i % 2 == 0 for i in kept)  # absent strata dropped


def test_stratified_sample_is_partitioning_invariant(spark):
    rows = [(i, "en") for i in range(100)]
    df1 = _df(spark, rows, "doc_id long, lang string").repartition(1)
    df8 = _df(spark, rows, "doc_id long, lang string").repartition(8)
    k1 = sorted(r["doc_id"] for r in stratified_sample(df1, {"en": 0.5}).collect())
    k8 = sorted(r["doc_id"] for r in stratified_sample(df8, {"en": 0.5}).collect())
    assert k1 == k8 and 20 < len(k1) < 80


# ---------------------------------------------------------- pack_sequences
def _py_next_fit(rows, capacity, n_shards):
    """Independent reference: per-shard next-fit packing in id order."""
    out = {}
    shards = {}
    for doc_id, text in rows:
        t = len(text.split()) if text.strip() else 0
        shards.setdefault(_py_bucket(str(doc_id)) % n_shards, []).append((doc_id, t))
    for shard, docs in shards.items():
        fill, b = 0, 0
        for i, (doc_id, t) in enumerate(sorted(docs)):
            if i > 0 and fill + t > capacity:
                b, fill = b + 1, 0
            fill += t
            out[doc_id] = (shard, b, t)
    return out


def test_pack_sequences_matches_python_reference(spark):
    from sema_spark.operators.curation import pack_sequences

    rows = [(i, " ".join(["w"] * (3 + (i * 7) % 11))) for i in range(40)]
    rows.append((100, " ".join(["w"] * 50)))   # oversize doc: own bin
    rows.append((101, ""))                      # empty doc: 0 tokens
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["shard"], r["bin_idx"], r["n_tokens"])
        for r in pack_sequences(df, capacity=10, n_shards=3).collect()
    }
    assert got == _py_next_fit(rows, capacity=10, n_shards=3)


def test_pack_sequences_respects_capacity(spark):
    from sema_spark.operators.curation import pack_sequences

    rows = [(i, " ".join(["w"] * 4)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, capacity=10, n_shards=2).collect()
    fills = {}
    for r in out:
        fills[(r["shard"], r["bin_idx"])] = fills.get((r["shard"], r["bin_idx"]), 0) + r["n_tokens"]
    # every multi-doc bin within capacity (4+4=8 <= 10, never 12)
    assert all(v <= 10 for v in fills.values())
    # and packing actually happened: bins hold 2 docs each
    assert max(fills.values()) == 8


def test_pack_sequences_partitioning_invariant(spark):
    from sema_spark.operators.curation import pack_sequences

    rows = [(i, " ".join(["w"] * (2 + i % 5))) for i in range(60)]
    a = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    b = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    ra = sorted(tuple(r) for r in pack_sequences(a, capacity=12, n_shards=4).collect())
    rb = sorted(tuple(r) for r in pack_sequences(b, capacity=12, n_shards=4).collect())
    assert ra == rb


# ------------------------------------------------------ weighted_interleave
def test_weighted_interleave_proportions(spark):
    from sema_spark.operators.curation import weighted_interleave

    rows = [(i, "a" if i < 40 else "b") for i in range(80)]  # 40 of each
    df = _df(spark, rows, "doc_id long, source string")
    out = weighted_interleave(df, {"a": 1.0, "b": 0.5})
    got = sorted((r["vt"], r["source"], r["doc_id"]) for r in out.collect())
    # in any prefix of the vt order, 'a' appears ~2x as often as 'b'
    prefix = [s for _, s, _ in got[:30]]
    assert prefix.count("a") == 20 and prefix.count("b") == 10
    # k-th doc of source s sits at vt = k / weight
    a_vts = [vt for vt, s, _ in got if s == "a"]
    assert a_vts[:3] == [1.0, 2.0, 3.0]
    b_vts = [vt for vt, s, _ in got if s == "b"]
    assert b_vts[:3] == [2.0, 4.0, 6.0]


def test_weighted_interleave_drops_unweighted_and_is_deterministic(spark):
    from sema_spark.operators.curation import weighted_interleave

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(60)]
    df1 = _df(spark, rows, "doc_id long, source string").repartition(1)
    df7 = _df(spark, rows, "doc_id long, source string").repartition(7)
    o1 = sorted(tuple(r) for r in weighted_interleave(df1, {"a": 1.0, "b": 0.5}).collect())
    o7 = sorted(tuple(r) for r in weighted_interleave(df7, {"a": 1.0, "b": 0.5}).collect())
    assert o1 == o7                       # partitioning invariant
    assert all(s != "c" for _, s, _, _ in o1)  # unweighted source dropped
    assert len(o1) == 40


# ------------------------------------------------- incremental curation
def test_repetition_signals_incremental_stage(spark, tmp_path):
    """Per-document curation signals compose with the checkpointed
    incremental store: a second run over a grown corpus processes ONLY
    the new documents, and the accumulated stage output equals a
    from-scratch computation.  (Corpus-WIDE curation ops — passage
    dedup, decontamination — are deliberately snapshot-stage material:
    their output for old docs changes when new docs arrive.)"""
    from sema_spark.sources.checkpoint import read_stage_output, run_incremental_stage

    base = str(tmp_path / "store")

    def src_of(rows):
        df = _df(spark, rows, "doc_id long, text string")
        return df.select(
            F.lit("corpus").alias("repo"),
            F.col("doc_id").cast("string").alias("path"),
            F.sha2(F.col("text"), 256).alias("content_sha"),
            "doc_id",
            "text",
        )

    def transform(pending):
        sigs = repetition_signals(pending.select("doc_id", "text"))
        return pending.select("repo", "path", "content_sha", "doc_id").join(
            sigs, "doc_id"
        )

    batch1 = [(i, f"alpha beta gamma doc{i} " * 3) for i in range(10)]
    batch2 = [(i, f"spam spam spam doc{i}") for i in range(10, 16)]

    r1 = run_incremental_stage(spark, src_of(batch1), "rep_sigs", base, transform)
    assert (r1.input_files, r1.skipped) == (10, False)

    # re-running over the SAME corpus is a no-op (resume idempotence)
    r_again = run_incremental_stage(spark, src_of(batch1), "rep_sigs", base, transform)
    assert r_again.skipped

    # grown corpus: only the 6 new docs are processed
    r2 = run_incremental_stage(spark, src_of(batch1 + batch2), "rep_sigs", base, transform)
    assert (r2.input_files, r2.skipped) == (6, False)

    got = {
        r["doc_id"]: (r["n_words"], r["top_word_frac"], r["keep"])
        for r in read_stage_output(
            spark, base, "rep_sigs", transform(src_of(batch1)).schema
        ).collect()
    }
    expect = {
        r["doc_id"]: (r["n_words"], r["top_word_frac"], r["keep"])
        for r in repetition_signals(
            _df(spark, batch1 + batch2, "doc_id long, text string")
        ).collect()
    }
    assert got == expect


def test_whitespace_edges_normalized(spark):
    """Tab/newline-edged text: gram, passage, token, and word-stat
    semantics must follow whitespace-NORMALIZED words (python str.split
    semantics) — the r4 review caught split(trim(x), '\\s+') emitting an
    empty first word on tab-led text, silently shifting every gram and
    passage against the oracle."""
    from sema_spark.operators.curation import (
        dedup_passages,
        pack_sequences,
        repetition_signals,
    )

    rows = [
        (1, "\ta b c d e\n"),       # tab-led, newline-trailed
        (2, "a\t b\nc   d e"),      # interior mixed runs
        (3, " \t \n "),             # whitespace-only
        (4, ""),                    # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # n_words / passages follow python .split() word counts
    rep = {r.doc_id: r.n_words for r in repetition_signals(docs).collect()}
    assert rep[1] == 5 and rep[2] == 5
    assert rep[3] == 1 and rep[4] == 1  # [''] — the shared empty edge

    dp = {r.doc_id: (r.n_passages, r.clean_text) for r in dedup_passages(docs, passage_words=3).collect()}
    assert dp[1][0] == 2 and dp[1][1] == "a b c d e"
    assert dp[2][1] == ""  # doc 2's normalized passages are doc 1's — it loses both
    assert dp[3] == (1, "")  # whitespace-only: one empty passage
    pk = {r.doc_id: r.n_tokens for r in pack_sequences(docs, capacity=8, n_shards=2).collect()}
    assert pk[1] == 5 and pk[2] == 5 and pk[3] == 0 and pk[4] == 0


def test_duplicated_spans_matches_bruteforce(spark):
    """Exact-substring span detection vs a direct python reimplementation
    (hash-free: dict of gram-string occurrences + interval merge)."""
    import re

    from sema_spark.operators.curation import duplicated_spans

    texts = {
        1: "a b c d e f g h i j k l",            # [0,10) shared with 2
        2: "x y a b c d e f g h i j",            # [2,12)
        3: "u v w p q r s t zz yy xx ww",        # unique
        4: "m " * 20,                            # self-repeat, merges to one span
        5: "",                                   # empty
        6: None,                                 # null
        7: "a b c d e f g h i j k l",            # full dup of 1 → [0,12)? windows [0,10),[1,11),[2,12) dup → merged [0,12)
    }
    w = 10

    def brute(texts, w):
        words = {
            i: re.sub(r"\s+", " ", t).strip().split(" ")
            for i, t in texts.items()
            if t is not None
        }
        occ = {}
        for i, ws in words.items():
            for p in range(len(ws) - w + 1):
                occ.setdefault(" ".join(ws[p : p + w]), []).append((i, p))
        spans = {}
        for g, hits in occ.items():
            if len(hits) >= 2:
                for i, p in hits:
                    spans.setdefault(i, []).append((p, p + w))
        out = []
        for i, ivs in spans.items():
            ivs.sort()
            cur_s, cur_e = ivs[0]
            for s, e in ivs[1:]:
                if s > cur_e:
                    out.append((i, cur_s, cur_e, cur_e - cur_s))
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            out.append((i, cur_s, cur_e, cur_e - cur_s))
        return sorted(out)

    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_words)
        for r in duplicated_spans(docs, w=w).collect()
    )
    exp = brute(texts, w)
    assert got == exp
    assert {i for i, *_ in got} == {1, 2, 4, 7}
    # doc 7 duplicates doc 1 entirely: all three windows merge to [0,12)
    assert (7, 0, 12, 12) in got


def test_remove_spans_cuts_exactly(spark):
    """remove_spans drops exactly the words inside reported spans (the
    Lee et al. removal step), verified against a python replica; on
    this boundary-clean corpus a re-run finds zero residual spans."""
    import re

    from sema_spark.operators.curation import duplicated_spans, remove_spans

    texts = {
        1: "a b c d e f u1 u2",
        2: "x y a b c d e f z",
        3: "p q r s t",
        4: " \t ",  # whitespace-only: [''], no grams, passes through as ''
        5: None,    # dropped (non-null contract)
    }
    w = 3
    docs = spark.createDataFrame([(i, t) for i, t in texts.items()], "doc_id long, text string")
    spans = duplicated_spans(docs, w=w)
    got = {
        r.doc_id: (r.clean_text, r.n_words, r.n_removed)
        for r in remove_spans(docs, spans).collect()
    }

    # python replica: same normalize → span → cut
    sp = {}
    for r in spans.collect():
        sp.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    exp = {}
    for i, t in texts.items():
        if t is None:
            continue
        ws = re.sub(r"\s+", " ", t).strip().split(" ")
        dead = {k for s, e in sp.get(i, []) for k in range(s, e)}
        kept = [x for k, x in enumerate(ws) if k not in dead]
        exp[i] = (" ".join(kept), len(ws), len(dead))
    assert got == exp
    assert got[1] == ("u1 u2", 8, 6)
    assert got[2] == ("x y z", 9, 6)
    assert got[3] == ("p q r s t", 5, 0)
    assert got[4] == ("", 1, 0)
    assert 5 not in got

    cleaned = spark.createDataFrame(
        [(i, c) for i, (c, _, _) in got.items()], "doc_id long, text string"
    )
    assert duplicated_spans(cleaned, w=w).count() == 0


def test_curation_chain_weight_contract(spark):
    """r6: the chain validates its weight contract (the r5 fusion made
    partial weight maps silently change bin assignment)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from sema_spark.operators.curation import curation_chain

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, f"{base} {i} tail{i} mid{i} end{i}", f"src{i % 2}") for i in range(1, 13)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    with pytest.raises(ValueError, match="positive"):
        curation_chain(docs, weights={"src0": 1.0, "src1": 0.0})
    # uncovered source raises during execution, not a silent drop
    with pytest.raises(SparkRuntimeException, match="no positive weight"):
        curation_chain(docs, weights={"src0": 1.0}).collect()

