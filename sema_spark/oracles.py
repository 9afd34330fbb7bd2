"""Independent pure-Python oracles of the engine's clustering and BPE
operators.

No Spark session: each function recomputes what an operator in
``operators/clustering`` or ``sources/ann_index`` returns under the
same determinism contract (see the ``operators/clustering`` module
docstring), and :func:`write_expected_kmeans` materializes the answers
as the expected parquet tables the driver's oracle queries read.
:func:`bpe_python` is the reference of ``functions/bpe.bpe_train``
and the source of the expected merge tables
(``corpus.write_expected_tables``).
"""

from __future__ import annotations

import decimal
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_DEC_Q = Decimal("1e-12")
# wide working precision (Python's default context of 28 digits can
# raise InvalidOperation when quantize/sum digits exceed it); mirrors
# Spark's decimal(38,12) headroom
_CTX = decimal.Context(prec=60, rounding=ROUND_HALF_UP)


def _dec(x: float) -> Decimal:
    """Python replica of Spark's double→decimal(38,12) cast: both go
    through the shortest decimal repr (BigDecimal.valueOf /
    ``repr``), then quantize HALF_UP at scale 12 — identical rounding
    on both engines, so the two casts cannot disagree."""
    return _CTX.quantize(Decimal(repr(float(x))), _DEC_Q)


def kmeans_python(ids, vectors, k: int = 8, iterations: int = 5) -> dict:
    """Independent full-matrix oracle: same determinism contract, none
    of the Spark machinery.  ``vectors`` are float32 rows (as stored);
    returns {id: cluster}."""
    ids = list(ids)
    _, a, _ = _kmeans_python_fit(ids, vectors, k, iterations)
    return {ids[i]: int(a[i]) for i in range(len(ids))}


def _kmeans_python_fit(ids, vectors, k: int, iterations: int):
    ids = list(ids)
    m = np.stack(
        [np.asarray(v, dtype=np.float32).astype(np.float64) for v in vectors]
    )
    order = sorted(range(len(ids)), key=lambda i: ids[i])[:k]
    c = m[order].copy()
    for _ in range(iterations):
        d = -2.0 * np.einsum("nd,kd->nk", m, c, optimize=False) + (c * c).sum(axis=1)[None, :]
        a = np.argmin(d, axis=1)
        for j in range(len(c)):
            members = m[a == j]
            if len(members):
                with decimal.localcontext(_CTX):
                    c[j] = np.array(
                        [
                            float(sum((_dec(x) for x in members[:, p]), Decimal(0)))
                            / len(members)
                            for p in range(m.shape[1])
                        ],
                        dtype=np.float64,
                    )
    d = -2.0 * np.einsum("nd,kd->nk", m, c, optimize=False) + (c * c).sum(axis=1)[None, :]
    return c, np.argmin(d, axis=1), m


def _seq_cosine(v, q) -> float | None:
    """Replica of functions/vector's SEQUENTIAL fold cosine, one row
    at a time (numpy pairwise sums differ in the last bits, which an
    unrounded-value oracle cannot tolerate)."""
    dot = 0.0
    na = 0.0
    nb = 0.0
    for i in range(len(q)):
        x = float(np.float32(v[i]))
        dot += x * float(q[i])
        na += x * x
        nb += float(q[i]) * float(q[i])
    den = math.sqrt(na) * math.sqrt(nb)
    return dot / den if den != 0.0 else None


def _r6(x: float) -> float:
    """Spark F.round(_, 6): HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def ivf_kmeans_topk_python(
    ids, vectors, qvec, k: int = 10, n_clusters: int = 8,
    iterations: int = 3, probes: int = 2,
):
    """Independent oracle for ``operators.clustering.ivf_kmeans_topk``:
    same quantizer contract, sequential-summation cosine, (score desc,
    id asc) order.  Returns [(id, score), ...]."""
    ids = list(ids)
    c, a, _ = _kmeans_python_fit(ids, vectors, n_clusters, iterations)
    q = np.asarray(qvec, dtype=np.float64)
    dist = ((c - q[None, :]) ** 2).sum(axis=1)
    probe = set(int(x) for x in np.argsort(dist, kind="stable")[:probes])
    scored = [
        (ids[i], _r6(s))
        for i in range(len(ids))
        if int(a[i]) in probe
        and (s := _seq_cosine(vectors[i], q)) is not None
    ]
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def ivf_incremental_topk_python(
    ids, vectors, qvec, id_threshold, k: int = 10, n_clusters: int = 8,
    iterations: int = 3, probes: int = 2,
):
    """Oracle for the INCREMENTALLY-built stored index: the quantizer is
    trained only on rows with id < ``id_threshold`` (the build half),
    then FROZEN — every vector (old and appended) is assigned by it,
    exactly :func:`sema_spark.sources.ann_index.ivf_index_append`'s
    contract.  Probe + sequential cosine + (score desc, id) top-k as in
    :func:`ivf_kmeans_topk_python`."""
    ids = list(ids)
    sub = [i for i in range(len(ids)) if ids[i] < id_threshold]
    c, _, _ = _kmeans_python_fit(
        [ids[i] for i in sub], [vectors[i] for i in sub], n_clusters, iterations
    )
    m = np.stack(
        [np.asarray(v, dtype=np.float32).astype(np.float64) for v in vectors]
    )
    d = -2.0 * np.einsum("nd,kd->nk", m, c, optimize=False) + (c * c).sum(axis=1)[None, :]
    a = np.argmin(d, axis=1)
    q = np.asarray(qvec, dtype=np.float64)
    dist = ((c - q[None, :]) ** 2).sum(axis=1)
    probe = set(int(x) for x in np.argsort(dist, kind="stable")[:probes])
    scored = [
        (ids[i], _r6(s))
        for i in range(len(ids))
        if int(a[i]) in probe
        and (s := _seq_cosine(vectors[i], q)) is not None
    ]
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def write_expected_kmeans(
    out_dir: str, parquet_path: str, k: int = 8, iterations: int = 5
) -> None:
    """Materialize the oracle assignment for the embeddings table at
    ``parquet_path`` as ``kmeans.parquet`` (pyarrow only, no Spark) —
    the expected-parquet mechanism the KG/pagerank oracles use."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()
    got = kmeans_python(ids, vecs, k, iterations)
    ordered = sorted(got)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, table):
        tmp = f"{out_dir}/.tmp-{os.getpid()}-{name}"
        pq.write_table(table, tmp)
        os.replace(tmp, f"{out_dir}/{name}")

    write(
        "kmeans.parquet",
        pa.table({"vec_id": ordered, "cluster": [got[i] for i in ordered]}),
    )
    # IVF ANN twin: query = vec_id 0's embedding, 3-round quantizer,
    # 2 probes (same parameters as q_ann_ivf_kmeans_topk)
    qvec = vecs[ids.index(0)]
    top = ivf_kmeans_topk_python(
        ids, vecs, qvec, k=10, n_clusters=k, iterations=3, probes=2
    )
    write(
        "ivf_kmeans.parquet",
        pa.table(
            {
                "vec_id": [i for i, _ in top],
                "score": [s for _, s in top],
            }
        ),
    )
    # incremental-stored-index twin: quantizer trained on ids below
    # count//2, frozen, rest appended (same parameters as
    # q_ann_ivf_incr_topk)
    incr = ivf_incremental_topk_python(
        ids, vecs, qvec, len(ids) // 2, k=10, n_clusters=k, iterations=3, probes=2
    )
    write(
        "ivf_kmeans_incr.parquet",
        pa.table(
            {
                "vec_id": [i for i, _ in incr],
                "score": [s for _, s in incr],
            }
        ),
    )


def bpe_python(
    texts, n_merges: int, batch_m: int = 1
) -> list[tuple[int, str, str, str, int]]:
    """Independent pure-Python BPE — unit-test reference AND the oracle
    queries' expected-parquet source.  Same word regex, weighting,
    tiebreak, merge fold, early stop, and (for ``batch_m`` > 1) the same
    candidate window + non-conflicting batch selection as
    :func:`functions.bpe.bpe_train`."""
    from collections import Counter

    from sema_spark.functions.bpe import _WORD_RE, _candidate_k, _select_batch

    vocab = Counter()
    for t in texts:
        for w in _WORD_RE.findall((t or "").lower()):
            vocab[w] += 1
    syms = {w: tuple(w) for w in vocab if len(w) >= 2}

    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges:
        counts: Counter = Counter()
        for w, s in syms.items():
            c = vocab[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += c
        ranked = sorted(
            ((p, c) for p, c in counts.items() if c >= 2),
            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]),
        )[: _candidate_k(batch_m)]
        selected = _select_batch(
            [(l, r, c) for (l, r), c in ranked], batch_m, n_merges - len(merges)
        )
        if not selected:
            break
        for left, right, n in selected:
            merged = left + right
            merges.append((len(merges), left, right, merged, n))
            new_syms = {}
            for w, s in syms.items():
                out: list[str] = []
                for x in s:
                    if out and out[-1] == left and x == right:
                        out[-1] = merged
                    else:
                        out.append(x)
                new_syms[w] = tuple(out)
            syms = new_syms
    return merges
