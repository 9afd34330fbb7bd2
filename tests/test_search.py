"""Tantivy-subset query parser + BM25 search semantics."""

import pytest

from sema_spark.operators.search import ParsedQuery, bm25_search, parse_query


def test_parse_query_clauses():
    pq = parse_query('spark "Hash  Join" +shuffle -python CATALYST')
    assert pq.should == ("spark", "catalyst")
    assert pq.must == ("shuffle",)
    assert pq.must_not == ("python",)
    assert pq.phrases == ("hash join",)
    # scored = should + must + phrase words, deduped, order-stable
    assert pq.scored_terms == ("spark", "catalyst", "shuffle", "hash", "join")


def test_parse_query_empty_phrase_and_punct():
    pq = parse_query('"" +x-y foo.bar')
    assert pq.phrases == ()
    assert pq.must == ("x", "y")  # punctuation splits into words
    assert pq.should == ("foo", "bar")


def test_bm25_search_constraints(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join window"),          # no phrase → dropped
            (2, "hash join spark shuffle"),            # all constraints pass
            (3, "hash join spark python shuffle"),     # -python → dropped
            (4, "hash join window sort"),              # no +shuffle → dropped
            (5, "spark spark spark hash join shuffle"),  # passes, more tf
        ],
        "doc_id long, text string",
    )
    out = bm25_search(docs, 'spark "hash join" +shuffle -python', k=10)
    rows = out.collect()
    assert [r.doc_id for r in rows] == [5, 2]  # 5 outscores 2 on spark tf
    assert all(r.score > 0 for r in rows)


def test_bm25_search_requires_scorable_terms(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bm25_search(docs, "-only -negations")


def test_phrase_is_token_adjacency_not_substring(spark):
    docs = spark.createDataFrame(
        [
            (1, "we resort keyed maps hash shuffle"),  # substring 'sort key' but not tokens
            (2, "please sort, key hash shuffle now"),  # punctuation-adjacent tokens → match
            (3, "sort the key hash shuffle"),          # tokens present but not adjacent
        ],
        "doc_id long, text string",
    )
    out = bm25_search(docs, '"sort key" +hash', k=10)
    assert {r.doc_id for r in out.collect()} == {2}


def test_parse_query_modifiers():
    from sema_spark.operators.search import parse_query

    pq = parse_query('spark~1 +window^2 lang:en -merge cost^0.5 exact~')
    assert pq.should == ("spark", "cost", "exact")
    assert pq.must == ("window",)
    assert pq.must_not == ("merge",)
    assert dict(pq.scoped) == {"lang": "en"}
    assert pq.boost_of("window") == 2.0 and pq.boost_of("cost") == 0.5
    assert pq.boost_of("spark") == 1.0  # unmodified default
    assert pq.fuzzy_of("spark") == 1 and pq.fuzzy_of("exact") == 1  # bare ~ → 1
    assert pq.fuzzy_of("window") == 0
    assert parse_query("deep~9").fuzzy_of("deep") == 2  # capped like tantivy


def test_bm25_fuzzy_boost_and_field_scope(spark):
    docs = spark.createDataFrame(
        [
            (1, "en", "spark window shuffle"),      # exact everything
            (2, "en", "sparks window shuffle"),     # 1-edit fuzzy match
            (3, "en", "sparkle window shuffle"),    # 2 edits → no fuzzy tf
            (4, "de", "spark window shuffle"),      # wrong lang → filtered
            (5, "en", "spark shuffle"),             # no required window → dropped
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.doc_id: r.score for r in bm25_search(docs, "spark~1 +window^2 lang:en", k=10).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] == out[2]  # fuzzy tf counts 'sparks' same as 'spark'
    assert out[3] < out[1]  # no spark clause, only the boosted window
    # boost doubles the window clause: rerun without boost and compare
    plain = {r.doc_id: r.score for r in bm25_search(docs, "spark~1 +window lang:en", k=10).collect()}
    assert out[3] == pytest.approx(2 * plain[3], rel=1e-9)

    with pytest.raises(ValueError, match="unknown column"):
        bm25_search(docs, "spark +nope:x", k=5).collect()


def test_parser_modifier_order_and_multidigit_fuzzy():
    from sema_spark.operators.search import parse_query

    # reversed modifier order must not mint a phantom term "2"
    pq = parse_query("spark^2~1")
    assert pq.should == ("spark",)
    assert pq.boost_of("spark") == 2.0 and pq.fuzzy_of("spark") == 1
    # multi-digit fuzzy parses and caps at 2 (tantivy/Lucene cap)
    pq = parse_query("deep~10")
    assert pq.should == ("deep",) and pq.fuzzy_of("deep") == 2


def test_parser_scoped_exclusion():
    from sema_spark.operators.search import parse_query

    pq = parse_query("-lang:en spark")
    assert pq.scoped_not == (("lang", "en"),)
    assert pq.must_not == ()  # NOT reparsed as excluded words
    assert pq.should == ("spark",)


def test_parser_url_tokenizes_as_words():
    from sema_spark.operators.search import parse_query

    pq = parse_query("spark http://example.com")
    assert pq.scoped == ()  # 'http' is not a field reference
    assert set(pq.should) == {"spark", "http", "example", "com"}


def test_bm25_scoped_exclusion_filters(spark):
    from sema_spark.operators.search import bm25_search

    docs = spark.createDataFrame(
        [(1, "spark rows", "en"), (2, "spark rows", "de"), (3, "spark rows", None)],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"] for r in bm25_search(docs, "spark -lang:en", k=10).collect()}
    # en excluded; de kept; NULL lang must survive the exclusion
    assert got == {2, 3}
    # scoped user columns named like the operator's internal columns
    # (the text alias _text, the token array _toks) must not collide
    # with them; a scope on the id column itself reads the id
    docs = spark.createDataFrame(
        [(1, "x", "t", "spark rows"), (2, "x", "t", "spark rows"),
         (3, "y", "t", "spark rows")],
        "doc_id long, _text string, _toks string, text string",
    )
    got = {
        r["doc_id"]
        for r in bm25_search(docs, "spark -doc_id:1 _text:x _toks:t", k=10).collect()
    }
    assert got == {2}


def test_parse_query_phrase_slop_and_exclusion_modifiers():
    from sema_spark.operators.search import parse_query

    pq = parse_query('"hash join"~2 -"sort key" -"a b"~1 -merge~1 +"win agg" -spark^2')
    assert pq.phrases == ("hash join", "win agg")  # +"..." same as bare
    assert dict(pq.phrase_slops) == {"hash join": 2}
    assert pq.phrase_slop_of("win agg") == 0
    assert dict(pq.phrases_not) == {"sort key": 0, "a b": 1}
    assert pq.must_not == ("merge", "spark")
    # r7 ADVICE fix: exclusion fuzziness lives in fuzzy_not (a shared
    # map let an exclusion's distance widen the same term's scored tf)
    assert pq.fuzzy_not_of("merge") == 1 and pq.fuzzy_of("merge") == 0
    assert pq.boost_of("spark") == 1.0  # boost on exclusion is inert
    # excluded phrase words never score
    assert "sort" not in pq.scored_terms and "hash" in pq.scored_terms


def test_duplicate_phrase_clauses_conjoin():
    """Lucene applies EVERY clause; slop matches are monotone, so the
    conjunction collapses to min slop for required phrases and max for
    exclusions — repeating a phrase must never widen a requirement or
    narrow an exclusion (the r6 review's last-wins bug)."""
    from sema_spark.operators.search import bm25_search, parse_query

    pq = parse_query('"a b" "a b"~2')
    assert pq.phrases == ("a b",)
    assert pq.phrase_slop_of("a b") == 0  # strict clause wins
    pq2 = parse_query('-"a b"~2 -"a b" x')
    assert dict(pq2.phrases_not) == {"a b": 2}  # widest exclusion wins


def test_duplicate_phrase_clauses_conjoin_e2e(spark):
    from sema_spark.operators.search import bm25_search

    docs = spark.createDataFrame(
        [(1, "a b win"), (2, "a x b win")],
        "doc_id long, text string",
    )
    # required: strict + sloppy → only the adjacent doc survives
    out = bm25_search(docs, '"a b" "a b"~2', k=10)
    assert {r.doc_id for r in out.collect()} == {1}
    # excluded: strict + sloppy → the sloppy clause still drops doc 2
    out = bm25_search(docs, 'win -"a b"~2 -"a b"', k=10)
    assert {r.doc_id for r in out.collect()} == set()


def test_slop_pattern_semantics():
    import re

    from sema_spark.operators.search import slop_pattern

    p = slop_pattern(["a", "b"], 2)
    assert re.search(p, " a b ") and re.search(p, " a x y b ")
    assert re.search(p, " b a ")  # transposition costs 2 (Lucene)
    assert not re.search(p, " a x y z b ") and not re.search(p, " b x a ")
    assert not re.search(slop_pattern(["a", "b"], 1), " b a ")
    p3 = slop_pattern(["a", "b", "c"], 2)  # total gap budget is SHARED
    assert re.search(p3, " a x b y c ") and not re.search(p3, " a x y b z c ")
    import pytest

    with pytest.raises(ValueError):
        slop_pattern(list("abcdefgh"), 9)  # >1000 branches


def test_bm25_phrase_slop_and_exclusions(spark):
    from sema_spark.operators.search import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "hash join win"),            # adjacent
            (2, "hash x y join win"),        # gap 2 → slop ok
            (3, "hash x y z join win"),      # gap 3 → dropped
            (4, "join hash win"),            # transposed, cost 2 → ok
            (5, "hash join sort key win"),   # excluded phrase → dropped
            (6, "hash join vectors win"),    # lev(vectors,vector)=1 → dropped
            (7, "hash join sort win key"),   # 'sort key' not adjacent → kept
        ],
        "doc_id long, text string",
    )
    out = bm25_search(docs, '"hash join"~2 -"sort key" -vector~1', k=10)
    assert {r.doc_id for r in out.collect()} == {1, 2, 4, 7}


def test_fuzzy_exclusion_does_not_widen_scored_tf(spark):
    """r7 ADVICE fix: a term that is both scored and fuzzy-EXCLUDED in
    another clause must score with ITS OWN distance (0 here), while the
    exclusion still drops fuzzy matches."""
    from sema_spark.operators.search import parse_query

    pq = parse_query("spark -spark~1")
    assert pq.fuzzy_of("spark") == 0  # scoring tf stays exact
    assert pq.fuzzy_not_of("spark") == 1  # the drop stays widened
    docs = spark.createDataFrame(
        [(1, "spark shuffle"), (2, "sparks shuffle"), (3, "window only")],
        "doc_id long, text string",
    )
    # doc 1 contains the excluded term exactly -> dropped; doc 2 is a
    # 1-edit fuzzy match of the exclusion -> dropped too; doc 3 has no
    # scored term -> filtered by any_present.  Empty result, but the
    # scoring clause must have used distance 0 (no crash, no phantom tf).
    from sema_spark.operators.search import bm25_search

    assert bm25_search(docs, "spark -spark~1", k=10).count() == 0
