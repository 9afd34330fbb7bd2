"""BPE tokenizer-training parity: the distributed pair-count /
fold-merge loop must equal the independent pure-Python reference
(same regex, weighting, tiebreak, non-overlapping merge, early stop).
"""

from __future__ import annotations

from sema_spark.functions.bpe import bpe_python, bpe_train


def _df(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def test_bpe_matches_python_reference(spark):
    texts = [
        "the theme thesis",
        "the theatre them",
        "aaaa aaa banana banana",   # cascade + repeated-char merges
        "MIXED case Words mixed",   # lowercasing
        "x",                         # 1-char word: no pairs ever
    ]
    got = bpe_train(_df(spark, texts), 10)
    exp = bpe_python(texts, 10)
    assert got == exp and len(got) > 3


def test_bpe_nonoverlapping_merge_fold(spark):
    # merge (a,a) on "aaaa"/"aaa": left-to-right non-overlapping
    # -> aaaa=[aa,aa], aaa=[aa,a]; pair (a,a) count = 3+2 = 5
    got = bpe_train(_df(spark, ["aaaa aaa"]), 2)
    exp = bpe_python(["aaaa aaa"], 2)
    assert got == exp
    assert got[0][:4] == (0, "a", "a", "aa") and got[0][4] == 5
    # round 2 best pair is (aa, aa) from "aaaa" (count 1 < 2 -> stops)
    # or (aa, a) from "aaa" -- both count 1, so training stops at 1 rule
    assert len(got) == 1


def test_bpe_count_tiebreak_is_lexicographic(spark):
    # "ab" and "cd" both occur twice; (a,b) < (c,d) lexicographically
    texts = ["ab ab cd cd"]
    got = bpe_train(_df(spark, texts), 1)
    assert got == bpe_python(texts, 1)
    assert got[0][1:4] == ("a", "b", "ab")


def test_bpe_early_stop_when_no_repeated_pair(spark):
    got = bpe_train(_df(spark, ["ab cd ef"]), 5)  # every pair count 1
    assert got == bpe_python(["ab cd ef"], 5) == []


def test_apply_merges_hand_checked():
    from sema_spark.functions.bpe import apply_merges

    merges = [(0, "h", "e", "he", 0), (1, "t", "he", "the", 0)]
    assert apply_merges("the", merges) == ["the"]
    assert apply_merges("theme", merges) == ["the", "m", "e"]
    assert apply_merges("tee", merges) == ["t", "e", "e"]  # no 'he' pair at pos 1? t-e-e: (h,e) absent
    assert apply_merges("hehe", merges) == ["he", "he"]


def test_bpe_encode_udf_matches_pure_function(spark):
    from sema_spark.functions.bpe import apply_merges, bpe_encode, bpe_train

    texts = ["the theme thesis theatre", "banana bandana the"]
    df = _df(spark, texts)
    merges = bpe_train(df, 6)
    rows = bpe_encode(df, merges, id_col=None).collect()
    got = sorted(tuple(r["tokens"]) for r in rows)
    import re
    exp = sorted(
        tuple(t for w in re.findall(r"[a-z0-9]+", s.lower()) for t in apply_merges(w, merges))
        for s in texts
    )
    assert got == exp
    assert all(r["n_tokens"] == len(r["tokens"]) for r in rows)


def test_bpe_encode_vocab_forms_identical(spark):
    """Every precomputed ``vocab`` mapping (over chosen words or the
    corpus's ``word_vocab``) must encode bit-identically to the
    no-vocab memo path — the broadcast is a cache seed, never a
    semantic change.  A mapping covering only SOME words must still
    encode uncovered words correctly (fallback to apply_merges on
    miss)."""
    from sema_spark.functions.bpe import (
        bpe_encode,
        bpe_train,
        precompute_vocab,
        word_vocab,
    )

    texts = ["the theme thesis theatre", "banana bandana the", "zz unseen word"]
    df = _df(spark, texts)
    merges = bpe_train(df, 6)

    def enc(vocab=None):
        return sorted(
            tuple(r["tokens"]) for r in bpe_encode(df, merges, vocab=vocab).collect()
        )

    base = enc()
    full = precompute_vocab(merges, ["the", "theme", "banana", "unseen"])
    assert enc(vocab=full) == base
    assert enc(vocab=precompute_vocab(merges, [r.w for r in word_vocab(df).collect()])) == base
    assert enc(vocab=precompute_vocab(merges, ["the", "banana"])) == base  # partial coverage
    assert enc(vocab={}) == base  # empty mapping == no-vocab


def test_bpe_encode_broadcast_is_memoized_per_mapping(spark):
    """Repeated encodes with the SAME precomputed mapping must reuse one
    Broadcast (the r6 review: per-call re-broadcast of a multi-MB dict
    accumulates executor blocks for the session's lifetime), while a
    different mapping object gets its own."""
    from sema_spark.functions.bpe import _broadcast_memo, bpe_train, precompute_vocab

    merges = bpe_train(_df(spark, ["the theme", "banana the"]), 4)
    v1 = precompute_vocab(merges, ["the", "banana"])
    b1 = _broadcast_memo(spark, v1, dict(v1))
    assert _broadcast_memo(spark, v1, dict(v1)) is b1
    v2 = precompute_vocab(merges, ["theme"])
    assert _broadcast_memo(spark, v2, dict(v2)) is not b1


def test_bpe_batched_spark_matches_python(spark):
    """Batched mode (top-m non-conflicting per round): both engines must
    walk the identical candidate window and selection, on a corpus busy
    enough that conflicts actually occur."""
    texts = [
        "the theme thesis theatre there then",
        "banana bandana cabana than"
        " mississippi missive misty",
        "aaaa aaa aa baobab",
    ]
    for m in (2, 4, 8):
        got = bpe_train(_df(spark, texts), 12, batch_m=m)
        exp = bpe_python(texts, 12, batch_m=m)
        assert got == exp, m


def test_bpe_batched_equals_greedy_when_unambiguous(spark):
    """Disjoint-alphabet words: every top pair is symbol-disjoint from
    the others and counts are strictly decreasing, so batched(m) must
    reproduce the greedy m=1 table exactly (rule + recorded counts)."""
    texts = ["ab " * 9 + "cd " * 8 + "ef " * 7 + "gh " * 6]
    greedy = bpe_python(texts, 4, batch_m=1)
    assert [mm[1] + mm[2] for mm in greedy] == ["ab", "cd", "ef", "gh"]
    for m in (2, 4):
        assert bpe_python(texts, 4, batch_m=m) == greedy
        assert bpe_train(_df(spark, texts), 4, batch_m=m) == greedy


def test_bpe_batched_conflict_skip():
    """Same-round selection must skip pairs sharing a symbol (left,
    right, OR the newly-merged string) with an earlier pick, and a
    conflicted-but-deferred pair merges on FRESH counts next round."""
    from sema_spark.functions.bpe import _select_batch

    # (e,r) taken; (r,s) shares r; (s,e) shares e; (x,y) disjoint → taken
    sel = _select_batch(
        [("e", "r", 10), ("r", "s", 5), ("s", "e", 4), ("x", "y", 3)],
        batch_m=3,
        remaining=10,
    )
    assert sel == [("e", "r", 10), ("x", "y", 3)]
    # merged-symbol reservation: ("ab","c") after ("a","b") would see
    # counts changed by the new "ab" symbols — must be deferred
    sel2 = _select_batch(
        [("a", "b", 9), ("ab", "c", 8), ("d", "e", 7)], batch_m=3, remaining=10
    )
    assert sel2 == [("a", "b", 9), ("d", "e", 7)]
    # remaining caps the batch (table never exceeds n_merges)
    assert len(_select_batch([("a", "b", 9), ("c", "d", 8)], 4, remaining=1)) == 1
    # deferred pair merges next round on fresh counts: "erser"×5 —
    # round 1 can only take (e,r); (er,s) then wins round 2 with its
    # post-merge count, so batched == greedy here
    texts = ["erser " * 5]
    assert bpe_python(texts, 3, batch_m=3) == bpe_python(texts, 3, batch_m=1)
