"""Output checks: every timed operation's result is compared with an
oracle that does not share the code path it checks."""

from __future__ import annotations

import contextlib
import decimal
import hashlib
import math
import re
from collections import Counter

from sema_spark.operators.search import B, K1

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")


def sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: HALF_UP on the shortest decimal repr."""
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.0001"), decimal.ROUND_HALF_UP))


def bm25_oracle(docs: list[tuple[int, str]], query: str, k: int) -> list[tuple[int, float]]:
    """Pure-Python BM25 top-k for a query of distinct plain words, with
    the fold order and rounding ``bm25_search`` documents."""
    terms = sorted({w for w in _TOKEN_SPLIT.split(query.lower()) if w})
    toks = [(d, [t for t in _TOKEN_SPLIT.split(text.lower()) if t]) for d, text in docs]
    n = len(toks)
    avgdl = sum(len(t) for _, t in toks) / n
    tfs = [(d, len(t), Counter(t)) for d, t in toks]
    df = {w: sum(1 for _, _, c in tfs if c[w] > 0) for w in terms}
    scored = []
    for d, dl, c in tfs:
        if not any(c[w] for w in terms):
            continue
        score = 0.0
        for w in terms:
            idf = math.log((n - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
            score = score + idf * (c[w] * (K1 + 1.0)) / (c[w] + K1 * (1 - B + B * dl / avgdl))
        scored.append((d, _round4(score)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored[:k]


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return tuple(_cell(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    return v


def rowset(pdf) -> list:
    cols = sorted(pdf.columns)
    return sorted(
        (tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )


def duckdb_rows(sql: str, table_dir: str):
    import duckdb

    con = duckdb.connect()
    with contextlib.closing(con):
        con.execute("SET threads TO 2")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
        return rowset(con.execute(sql).df())


def oracle_sql(entry) -> dict[str, str]:
    """``entry.oracle_sql()`` without its side effects: the expected-table
    writers it calls for unrelated queries are stubbed for the call."""
    from sema_spark import corpus
    from sema_spark.operators import multimodal

    stubs = [
        (corpus, "write_expected_tables"),
        (multimodal, "write_expected_real_features"),
        (multimodal, "write_expected_resized"),
        (entry, "_ensure_kmeans_expected"),
    ]
    saved = [(m, a, getattr(m, a)) for m, a in stubs]

    def unavailable(*args, **kwargs):
        raise RuntimeError("expected tables are not written by the benchmark")

    try:
        for m, a in stubs:
            setattr(m, a, unavailable if a == "_ensure_kmeans_expected" else (lambda *x, **y: None))
        return entry.oracle_sql()
    finally:
        for m, a, orig in saved:
            setattr(m, a, orig)


def minhash_survivors_ok(survivors: list[int], texts: dict[int, str]) -> bool:
    """``dedup_minhash`` has no SQL oracle (its xxhash64 base hash is not
    replicable in DuckDB), so its survivors are checked against what any
    correct run must satisfy: ids are unique input ids, every later copy
    of an exact duplicate is dropped, and the first copy of every text
    shares its component with no other survivor of the same text."""
    s = set(survivors)
    if len(s) != len(survivors) or not s <= texts.keys():
        return False
    first: dict[str, int] = {}
    for d in sorted(texts):
        first.setdefault(texts[d], d)
    later_copies = {d for d, t in texts.items() if first[t] != d}
    return not (s & later_copies) and len(s) <= len(first)
