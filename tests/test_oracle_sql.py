"""Validate the SQL oracle replications themselves.

The w1_chunker and u1_encoder driver oracles are full SQL
re-implementations of UDF-backed operators (recursive-CTE byte-window
walk; 3-gram multiplicative-hash encoder).  The driver only ever runs
them on the sf0.01 documents table — single-chunk ASCII docs — so these
tests run the EXACT production oracle strings (``oracle_sql()``) on an
adversarial in-memory table (multi-chunk, newline-heavy, boundary
sizes) against the pure-Python references.  A drift in either the
operator or the oracle shows up here before it ships.

Both oracles assume pure-ASCII text (1 char == 1 byte in DuckDB), which
holds for the driver's documents table and is asserted here for the
fixture corpus.
"""

import duckdb
import numpy as np
import pytest
from hof_oracles import encode_numpy

from sema_spark.operators.chunker import chunk_python

ADVERSARIAL = {
    1: "x" * 48,  # below MIN_CHUNK_SIZE → no chunks
    2: "y" * 50,  # exactly MIN_CHUNK_SIZE
    3: "line of text here\n" * 300,  # many chunks, newline snapping
    4: "z" * 2500,  # no newlines → hard 1000-byte walls
    5: "a" * 995 + "\n" + "b" * 30,  # tail chunk < 50 bytes, idx > 0 → dropped
    6: "\n" * 100,  # all newlines
    7: ("word " * 400).strip(),
    8: "c" * 60 + "\n" + "d" * 980 + "\n" + "e" * 45,
    9: "\n".join("seg%03d %s" % (k, "t" * (k % 37)) for k in range(200)),
    10: "",  # empty
    11: "hi",  # < 3 bytes: encoder yields the zero vector
}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("create table documents(source varchar, doc_id bigint, text varchar, lang varchar, n_chars int)")
    for i, t in ADVERSARIAL.items():
        assert all(ord(ch) < 128 for ch in t), "fixture must stay ASCII"
        c.execute("insert into documents values ('srcA', ?, ?, 'en', ?)", [i, t, len(t)])
    return c


@pytest.fixture(scope="module")
def oracles():
    import __spark_entry__ as E

    return E.oracle_sql()


def test_chunker_oracle_matches_python(con, oracles):
    got = sorted(tuple(r) for r in con.execute(oracles["w1_chunker"]).fetchall())
    exp = sorted(
        (f"srcA/{i}:{idx}", "srcA", idx, sl, el, len(chunk))
        for i, t in ADVERSARIAL.items()
        for idx, sl, el, chunk in chunk_python(t)
    )
    assert got == exp


def test_encoder_oracle_matches_numpy(con, oracles):
    got = {r[0]: (r[1], r[2], r[3]) for r in con.execute(oracles["u1_encoder"]).fetchall()}
    assert set(got) == set(ADVERSARIAL)
    for i, t in ADVERSARIAL.items():
        v = encode_numpy(t)
        exp = (
            round(float(np.linalg.norm(v.astype(np.float64))), 4),
            384,
            int(np.count_nonzero(v)),
        )
        assert got[i] == exp, f"doc {i}: {got[i]} != {exp}"


def test_semantic_search_oracle_matches_python(oracles):
    """The production semantic_search oracle string (chunker + encoder +
    cosine + top-k + per-file window, all in SQL) against a pure-Python
    pipeline on multi-chunk adversarial docs.  Fixture stays under the
    baked-in k=25 so identical-content chunks (tied scores) can't
    straddle the top-k boundary."""
    import math

    import numpy as np

    docs = {2: ADVERSARIAL[2], 4: ADVERSARIAL[4], 5: ADVERSARIAL[5], 8: ADVERSARIAL[8]}
    c = duckdb.connect()
    c.execute("create table documents(source varchar, doc_id bigint, text varchar)")
    for i, t in docs.items():
        c.execute("insert into documents values ('srcA', ?, ?)", [i, t])
    got = sorted(tuple(r) for r in c.execute(oracles["semantic_search"]).fetchall())

    qv = encode_numpy("spark shuffle join window batch").astype(np.float64)
    qn = math.sqrt(float((qv * qv).sum()))
    rows = []
    for i, t in docs.items():
        for cidx, sl, _el, ctext in chunk_python(t):
            v = encode_numpy(ctext).astype(np.float64)
            nv = math.sqrt(float((v * v).sum()))
            if nv > 0:
                rows.append((str(i), cidx, sl, float((v * qv).sum()) / (nv * qn)))
    assert len(rows) <= 25
    by_file: dict[str, list] = {}
    for p, cidx, sl, sc in rows:
        by_file.setdefault(p, []).append((sl, cidx, sc))
    exp = sorted(
        (p, lst[0][0], round(lst[0][2], 4), len(lst))
        for p, lst in ((k, sorted(v)) for k, v in by_file.items())
    )
    assert got == exp


def test_expected_pagerank_properties():
    """The kg_pagerank oracle's numpy iteration: ranks sum to 1 and the
    node set equals the expected-edge node set."""
    from sema_spark.corpus import expected_edges, expected_pagerank

    pr = expected_pagerank("xs", iterations=5)
    nodes = {x for s, _, d in expected_edges("xs") for x in (s, d)}
    assert set(pr) == nodes
    assert abs(sum(pr.values()) - 1.0) < 1e-9
