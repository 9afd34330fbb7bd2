"""Tantivy-style query parsing + BM25 keyword search (SURVEY A4 /
entry point C, full-fidelity tier).

The reference hands the raw query string to tantivy's QueryParser
(/root/reference/src/storage/text_indexer.rs:81-82), which understands
quoted phrases and boolean operators.  This module re-expresses the
commonly-used subset over the posting-list plan:

* bare terms — "should" clauses, OR-combined, BM25-scored;
* ``+term`` — required (doc must contain it), also scored;
* ``-term`` — excluded;
* ``"quoted phrase"`` — required: verified by TOKEN ADJACENCY over the
  tokenized document (the index-free equivalent of positional postings
  — same token basis as the postings, so no substring false positives
  like 're[sort key]ed' and no false negatives for punctuation-separated
  adjacent tokens), and the phrase's words join the scored term set;
* ``term^2`` — boost: multiplies that term's scoring clause (round 3);
* ``term~1`` — fuzzy: tokens within Levenshtein distance n (≤ 2, like
  tantivy) match for both tf and the required check (round 3);
* ``field:value`` — field-scoped term, applied as an equality filter on
  that document column (the reference's per-field index degenerates to
  a metadata filter when only one text field exists) (round 3);
* ``"a b"~2`` — phrase slop (round 6): matches when the phrase words
  appear IN ORDER with at most ``slop`` total intervening tokens
  (Lucene/tantivy's cost model for in-order matches), verified by a
  pure-codegen regex over the space-joined token string — the gap
  budget is enumerated into an alternation (`slop_pattern`), shared
  verbatim with the DuckDB oracle (RE2-safe).  Two-word phrases also
  match TRANSPOSED when ``slop ≥ 2`` (Lucene charges 2 for the swap),
  making them Lucene-exact; out-of-order matches of ≥3-word phrases
  are NOT modeled (documented divergence — the in-order tier is the
  semantics every practical slop query relies on);
* ``-"a b"`` / ``-"a b"~1`` — excluded (sloppy) phrase (round 6);
* ``-term~1`` — fuzzy exclusion (round 6): docs containing any token
  within the edit distance are dropped.  Boosts on exclusions parse
  but have no effect (exclusion clauses never score — same in
  tantivy); modifiers on ``-field:value`` are likewise inert.

Plan shape (round 3, genuinely single-pass): the query's terms are a
small fixed set, so per-doc term frequencies are computed straight off
the token array (``size(filter(_toks, = t))`` per term) in ONE
projection — no explode, no (doc, term) posting shuffle, no semi-joins.
Corpus stats (n_docs, avgdl, per-term df) are one aggregate over those
slim per-doc rows, riding back on a broadcast 1-row crossJoin; scoring
is a literal fold over the terms in lexicographic order (deterministic
fp addition).  The only exchange in the whole plan is the final
TakeOrdered.  Catalyst recomputes the per-doc projection once for the
stats branch and once for scoring (no common-subtree sharing) — two
scans of the corpus, narrow both times; at cluster scale, materialize
the per-doc frame to make it literally one.  No UDFs anywhere.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sema_spark.plans.materialize import materialize_lazy, spread

_TOKEN = re.compile(r'([+-]?)"([^"]*)"(?:~(\d+))?|(\S+)')
_WORD = re.compile(r"[a-z0-9]+")

K1 = 1.2
B = 0.75


_BOOST = re.compile(r"\^(\d+(?:\.\d+)?)$")
_FUZZY = re.compile(r"~(\d+)?$")
# the value must not start with '//' so URL-shaped free text
# ("http://example.com") tokenizes as words instead of crashing as an
# unknown-field reference — while path-valued scopes (path:/src/x.py,
# single slash) stay real field filters
_FIELD = re.compile(r"^([a-z_][a-z0-9_]*):(?!//)(\S+)$")


@dataclass(frozen=True)
class ParsedQuery:
    """Tantivy-subset parse result.

    ``boosts``/``fuzzy`` carry the ``term^2`` / ``term~1`` modifiers for
    scored terms (default 1.0 / 0); ``scoped`` carries ``field:value``
    terms, applied as equality filters on that document column (the
    reference hands these to tantivy's per-field index; with a single
    indexed text field, non-default fields act as metadata filters);
    ``scoped_not`` carries ``-field:value`` exclusions.

    Round 6: ``phrase_slops`` carries the ``"a b"~n`` slop per required
    phrase (phrases themselves stay in ``phrases`` so their words keep
    scoring, exactly like zero-slop phrases); ``phrases_not`` carries
    excluded phrases as (phrase, slop) pairs; ``fuzzy_not`` (split out
    of ``fuzzy`` in r7 — the shared map let a fuzzy EXCLUSION's edit
    distance silently widen the BM25 tf of the same term scored in
    another clause, e.g. 'spark -spark~1') carries ``-term~n``
    exclusion distances, consulted only by the must_not filter.  Boost
    on an exclusion parses but is discarded (no scoring clause to
    multiply — same in tantivy)."""

    should: tuple[str, ...]
    must: tuple[str, ...]
    must_not: tuple[str, ...]
    phrases: tuple[str, ...]
    boosts: tuple[tuple[str, float], ...] = ()
    fuzzy: tuple[tuple[str, int], ...] = ()
    scoped: tuple[tuple[str, str], ...] = ()
    scoped_not: tuple[tuple[str, str], ...] = ()
    phrase_slops: tuple[tuple[str, int], ...] = ()
    phrases_not: tuple[tuple[str, int], ...] = ()
    fuzzy_not: tuple[tuple[str, int], ...] = ()

    @property
    def scored_terms(self) -> tuple[str, ...]:
        seen: dict[str, None] = {}
        for t in self.should + self.must:
            seen.setdefault(t)
        for ph in self.phrases:
            for w in _WORD.findall(ph):
                seen.setdefault(w)
        return tuple(seen)

    def boost_of(self, term: str) -> float:
        return dict(self.boosts).get(term, 1.0)

    def fuzzy_of(self, term: str) -> int:
        return dict(self.fuzzy).get(term, 0)

    def fuzzy_not_of(self, term: str) -> int:
        return dict(self.fuzzy_not).get(term, 0)

    def phrase_slop_of(self, phrase: str) -> int:
        return dict(self.phrase_slops).get(phrase, 0)


def slop_pattern(words: list[str], slop: int) -> str:
    """Regex matching ``words`` in order over the sentinel-wrapped
    space-joined token string, with at most ``slop`` intervening tokens
    in total (Lucene's in-order cost = sum of gaps).  The gap budget is
    enumerated into an explicit alternation — every branch is plain
    concatenation + bounded repetition, so the pattern is pure
    whole-stage codegen on Spark AND RE2-safe for the DuckDB oracle
    (which embeds the IDENTICAL string).  Two-word phrases add the
    transposed branch when ``slop >= 2`` (Lucene charges 2 for the
    swap), making them Lucene-exact; branch count is C(slop+m-2, m-2)
    — a query whose phrase would expand past 1000 branches raises
    (author error, not a data condition)."""
    if len(words) == 1:
        return f" {words[0]} "
    branches: list[str] = []

    def rec(i: int, budget: int, acc: str) -> None:
        if len(branches) > 1000:
            raise ValueError(
                f"phrase slop too large to expand: {words!r} with slop {slop}"
            )
        if i == len(words) - 2:
            gap = f"(?: [^ ]+){{0,{budget}}}" if budget else ""
            branches.append(acc + gap + f" {words[-1]} ")
            return
        for g in range(budget + 1):
            gap = f"(?: [^ ]+){{{g}}}" if g else ""
            rec(i + 1, budget - g, acc + gap + f" {words[i + 1]}")

    rec(0, slop, f" {words[0]}")
    if len(words) == 2 and slop >= 2:
        b = slop - 2
        gap = f"(?: [^ ]+){{0,{b}}}" if b else ""
        branches.append(f" {words[1]}" + gap + f" {words[0]} ")
    return "|".join(branches)


def parse_query(q: str) -> ParsedQuery:
    """Parse the tantivy-ish subset; terms are lowercased alnum runs.

    Modifiers: ``+term`` required, ``-term`` excluded, ``"a b"`` phrase
    (``-"a b"`` excluded, ``"a b"~2`` sloppy — r6), ``term^2`` boost,
    ``term~1`` fuzzy (Levenshtein ≤ n, default 1, capped at 2 like
    tantivy; also on exclusions — r6), ``field:value`` field-scoped."""
    should: list[str] = []
    must: list[str] = []
    must_not: list[str] = []
    phrases: list[str] = []
    boosts: dict[str, float] = {}
    fuzzy: dict[str, int] = {}
    fuzzy_not: dict[str, int] = {}
    scoped: list[tuple[str, str]] = []
    scoped_not: list[tuple[str, str]] = []
    required_slop: dict[str, int] = {}
    phrases_not: dict[str, int] = {}

    def words(s: str) -> list[str]:
        return _WORD.findall(s.lower())

    for m in _TOKEN.finditer(q):
        if m.group(2) is not None:
            ph = " ".join(words(m.group(2)))
            if not ph:
                continue
            slop = int(m.group(3)) if m.group(3) else 0
            # duplicate clauses on the SAME phrase conjoin (Lucene
            # applies every clause); slop matches are monotone —
            # matches(slop a) ⊆ matches(slop b) for a ≤ b — so the
            # conjunction collapses exactly: required keeps the
            # STRICTEST (min) budget, exclusion keeps the WIDEST (max)
            if m.group(1) == "-":
                phrases_not[ph] = max(phrases_not.get(ph, 0), slop)
            else:
                if ph not in required_slop:
                    phrases.append(ph)
                    required_slop[ph] = slop
                else:
                    required_slop[ph] = min(required_slop[ph], slop)
            continue
        tok = m.group(4)
        target = should
        if tok.startswith("+"):
            target, tok = must, tok[1:]
        elif tok.startswith("-"):
            target, tok = must_not, tok[1:]
        boost = None
        dist = None
        # strip trailing modifiers in ANY order (spark^2~1, spark~1^2):
        # a single-pass strip would leave the other modifier glued to
        # the term and mint phantom scored words ("2")
        while True:
            bm = _BOOST.search(tok)
            if bm:
                boost, tok = float(bm.group(1)), tok[: bm.start()]
                continue
            fm = _FUZZY.search(tok)
            if fm:
                dist, tok = min(int(fm.group(1) or 1), 2), tok[: fm.start()]
                continue
            break
        sm = _FIELD.match(tok)
        if sm:
            pair = (sm.group(1), sm.group(2).lower())
            (scoped_not if target is must_not else scoped).append(pair)
            continue
        for w in words(tok):
            target.append(w)
            # boost on an exclusion parses but is inert (nothing to
            # score); fuzzy on an exclusion widens the DROP only — it
            # lands in fuzzy_not, never in the scoring map (r7 fix: the
            # shared map let '-spark~1' widen a scored 'spark' tf)
            if boost is not None and target is not must_not:
                boosts[w] = boost
            if dist is not None:
                (fuzzy_not if target is must_not else fuzzy)[w] = dist
    return ParsedQuery(
        tuple(should), tuple(must), tuple(must_not), tuple(phrases),
        tuple(boosts.items()), tuple(fuzzy.items()), tuple(scoped),
        tuple(scoped_not),
        tuple((ph, s) for ph, s in required_slop.items() if s),
        tuple(phrases_not.items()),
        tuple(fuzzy_not.items()),
    )


def _tokens(text_col: str):
    return F.filter(F.split(F.lower(text_col), r"[^a-z0-9]+"), lambda t: t != "")


def _has_phrase(toks, words: list[str]):
    """True when ``words`` appear as CONSECUTIVE tokens of ``toks``.

    Implemented as substring search over the space-joined token string
    (with sentinel spaces at both ends): exact token adjacency in pure
    whole-stage codegen — a per-position HOF scan was measured 5x
    slower (interpreted lambdas over every token of every doc)."""
    tokstr = F.concat(F.lit(" "), F.concat_ws(" ", toks), F.lit(" "))
    return tokstr.contains(" " + " ".join(words) + " ")


def _has_phrase_slop(toks, words: list[str], slop: int):
    """In-order sloppy phrase match over the same token string — one
    rlike against the shared :func:`slop_pattern` (codegen; the DuckDB
    oracle runs the identical pattern)."""
    tokstr = F.concat(F.lit(" "), F.concat_ws(" ", toks), F.lit(" "))
    return tokstr.rlike(slop_pattern(words, slop))


def _tf_count(toks, term: str, fuzzy: int = 0):
    """Occurrences of ``term`` in the token array (codegen size+filter).

    ``fuzzy`` > 0 counts tokens within that Levenshtein distance — fine
    for per-doc token arrays; at index scale the standard plan is to
    expand the fuzzy term against a term DICTIONARY first (small join)
    and score the expansion exactly, which this operator's df/tf
    machinery already supports (the expansion is just more qterms)."""
    if fuzzy > 0:
        return F.size(F.filter(toks, lambda x: F.levenshtein(x, F.lit(term)) <= F.lit(fuzzy)))
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bm25_search(
    docs: DataFrame,
    query: str | ParsedQuery,
    k: int = 50,
) -> DataFrame:
    """Top-k (doc_id, score) for a parsed query over a ``(doc_id, text)``
    document table.

    Value-parity notes (the DuckDB oracle compares unrounded-fold
    results at round-4): terms fold in LEXICOGRAPHIC order — fp
    addition is commutative but not associative, so the fold order must
    be pinned — and a term absent from a doc contributes an exact 0.0
    (tf=0 numerator), which is an fp identity, so folding over all
    query terms equals folding over the present ones."""
    pq = parse_query(query) if isinstance(query, str) else query
    qterms = sorted(pq.scored_terms)
    if not qterms:
        raise ValueError(f"query has no scorable terms: {query!r}")

    # r7 (guide §2.5/§4): tokenize ONCE.  Every tf/keep expression used
    # to re-evaluate the split-of-text subtree (HOFs are interpreted and
    # share no subexpressions), and the under-split documents scan ran
    # the whole thing on one core — so: project the slim columns, spread
    # round-robin (scale-adaptive, value-neutral), tokenize into a
    # NAMED column (CollapseProject keeps a multiply-referenced
    # non-trivial alias, so the split really runs once per row), and
    # lazily cut the per-doc frame so the stats branch and the scoring
    # branch share one evaluation (the docstring's "materialize the
    # per-doc frame" note, now done without a construction-time job —
    # tests/test_plans.py forbids driver actions at build time).
    scoped_fields = {f for f, _ in pq.scoped} | {f for f, _ in pq.scoped_not}
    keep_text = "text" in scoped_fields  # a text-scoped filter needs the raw column
    # every other projected column gets an INTERNAL name, so a scoped
    # user column called _text or _toks cannot collide with the
    # projection's own columns; _field_ref resolves a field to its alias
    scoped = {
        c: f"_s{i}"
        for i, c in enumerate(sorted((scoped_fields & set(docs.columns)) - {"doc_id", "text"}))
    }
    slim = spread(
        docs.select(
            "doc_id",
            *[F.col(c).alias(a) for c, a in scoped.items()],
            F.col("text").alias("_text"),
        )
    )
    tokenized = slim.select(
        "doc_id",
        *scoped.values(),
        *(["_text"] if keep_text else []),
        _tokens("_text").alias("_toks"),
    )
    internal = {**scoped, "doc_id": "doc_id", "text": "_text"}

    def _field_ref(field: str):
        return F.col(internal[field])

    toks = F.col("_toks")
    keep = F.lit(True)
    for ph in pq.phrases:  # required phrases: token-adjacency verify
        slop = pq.phrase_slop_of(ph)
        if slop:
            keep = keep & _has_phrase_slop(toks, ph.split(" "), slop)
        else:
            keep = keep & _has_phrase(toks, ph.split(" "))
    for ph, slop in pq.phrases_not:  # excluded (sloppy) phrases (r6)
        if slop:
            keep = keep & ~_has_phrase_slop(toks, ph.split(" "), slop)
        else:
            keep = keep & ~_has_phrase(toks, ph.split(" "))
    for t in pq.must_not:
        d = pq.fuzzy_not_of(t)  # fuzzy exclusion widens the drop (r6/r7)
        if d:
            keep = keep & (_tf_count(toks, t, d) == 0)
        else:
            keep = keep & ~F.array_contains(toks, F.lit(t))
    for t in pq.must:  # fuzzy must-terms require a fuzzy match
        keep = keep & (_tf_count(toks, t, pq.fuzzy_of(t)) > 0)
    for field, value in pq.scoped:
        if field not in docs.columns:
            raise ValueError(f"field-scoped term references unknown column {field!r}")
        keep = keep & (F.lower(_field_ref(field).cast("string")) == F.lit(value))
    for field, value in pq.scoped_not:
        if field not in docs.columns:
            raise ValueError(f"field-scoped term references unknown column {field!r}")
        # eqNullSafe: a null field must survive the exclusion (plain !=
        # yields null and would silently drop the row)
        keep = keep & ~F.lower(_field_ref(field).cast("string")).eqNullSafe(F.lit(value))

    # ONE projection: doc length + tf per query term, straight off the
    # named token-array column (query term sets are small; no explode,
    # no posting shuffle, no per-(doc,term) rows ever exist) — lazily
    # cut so the stats branch and the scoring branch share ONE
    # evaluation of the tokenize + tf work instead of two full scans
    tf = lambda i: F.col(f"_tf_{i}")
    per_doc = materialize_lazy(
        tokenized.select(
            "doc_id",
            F.size(toks).alias("dl"),
            keep.alias("_keep"),
            # factory, not a default-arg lambda: a 2-param HOF lambda would
            # receive (element, index) and silently compare against the index
            *[_tf_count(toks, t, pq.fuzzy_of(t)).alias(f"_tf_{i}") for i, t in enumerate(qterms)],
        )
    )
    # corpus-wide stats in one aggregate: n_docs, exact-integer dl sum
    # (avg() over doubles drifts with partial-agg order), and per-term
    # document frequencies — broadcast back as a 1-row crossJoin
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("_sdl"),
        *[F.sum((tf(i) > 0).cast("long")).alias(f"_df_{i}") for i in range(len(qterms))],
    ).withColumn("avgdl", F.col("_sdl").cast("double") / F.col("n_docs"))

    score = F.lit(0.0)
    any_present = F.lit(False)
    for i, t in enumerate(qterms):
        df_i = F.col(f"_df_{i}")
        idf = F.log((F.col("n_docs") - df_i + 0.5) / (df_i + 0.5) + 1.0)
        s_i = idf * (tf(i) * (K1 + 1.0)) / (
            tf(i) + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
        )
        boost = pq.boost_of(t)
        score = score + (s_i if boost == 1.0 else F.lit(boost) * s_i)
        any_present = any_present | (tf(i) > 0)

    return (
        per_doc.filter("_keep")
        .crossJoin(F.broadcast(stats))
        .filter(any_present)  # docs with no query term score nothing
        .select("doc_id", F.round(score, 4).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
