"""Seeded input generation for the benchmark — no timing code lives here.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs, and two seeds give different change, query
and append sets of the same sizes.  The program under test only ever
sees the parquet files and query strings produced here.

The KG corpus is a seeded slice of the deterministic ``bench`` corpus of
``sema_spark.corpus``.  Files are rendered one at a time with the exact
parameters ``generate_corpus("bench")`` uses, so the expected triple set
of the slice is the union of the per-file triple sets (the benchmark's
own test checks this equivalence on the ``xs`` scale).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from sema_spark import corpus

REPO_COLS = ("repo", "path", "commit", "lang", "content")
MONO = 0  # repo index of the monorepo org0/proj0
_COMMENT = {"py": "#", "js": "//", "rs": "//", "go": "//", "java": "//"}


@dataclass(frozen=True)
class KGSize:
    """Shape of one KG corpus sample (see ``SIZES``)."""

    scale: str
    whole_repos: int  # closed-world repos, one per language slot
    mono_files: int  # sampled files of the monorepo
    edits: int  # files edited by the delta pass
    deletes: int
    adds: int


@dataclass(frozen=True)
class SearchSize:
    min_queries: int  # per half of the stream (before / after the append)
    checked_queries: int  # per kind, compared against an oracle
    append_files: int  # edited indexed files; as many new files again
    graph_reads: int  # who_imports reads of the KG workload


@dataclass(frozen=True)
class DocSize:
    docs: int
    vectors: int


SIZES = {
    "full": (
        KGSize("bench", whole_repos=1, mono_files=60, edits=3, deletes=1, adds=1),
        SearchSize(min_queries=2, checked_queries=1, append_files=3, graph_reads=4),
        DocSize(docs=200, vectors=200),
    ),
    "smoke": (
        KGSize("xs", whole_repos=1, mono_files=6, edits=1, deletes=1, adds=1),
        SearchSize(min_queries=2, checked_queries=1, append_files=1, graph_reads=3),
        DocSize(docs=200, vectors=100),
    ),
}


def _module(scale: str, i: int, j: int) -> tuple[corpus.FileRow, set]:
    """File ``j`` of repo ``i`` exactly as ``corpus.generate_corpus`` renders it."""
    _, base_modules, mono_factor, body = corpus.SCALES[scale]
    repo = f"org{i % 7}/proj{i}"
    lang = corpus.LANGS[i % len(corpus.LANGS)]
    n = base_modules * (mono_factor if i == MONO else 1)
    path = f"src/m{j}.{corpus.EXT[lang]}"
    imports = sorted({(j + 1) % n, (j * 2 + 3) % n} - {j}) if n > 1 else []
    nf = (2 + (j % 3)) * body
    nm = (1 + (j % 2)) * body
    content, triples = corpus._RENDER[lang](repo, path, j, imports, nf, nm)
    return corpus.FileRow(repo, path, corpus._commit_of(repo), lang, content), triples


def _dup_shared(scale: str) -> list[corpus.FileRow]:
    """The ``dup_shared.py`` copies the generator plants in every third repo."""
    return [
        corpus.FileRow(f"org{i % 7}/proj{i}", "src/dup_shared.py", corpus._commit_of(f"org{i % 7}/proj{i}"), "py", corpus._DUP_CONTENT)
        for i in range(0, corpus.SCALES[scale][0], 3)
    ]


@dataclass
class KGInputs:
    rows: list[corpus.FileRow]
    triples: dict  # (repo, path) -> expected (subj, pred, obj) set of that file
    mutated: list[corpus.FileRow]  # rows after the delta pass's edits/deletes/adds
    edited: set  # (repo, path) keys
    deleted: set
    added: set

    def expected(self, rows: list[corpus.FileRow]) -> set:
        out = set()
        for r in rows:
            out |= self.triples[(r.repo, r.path)]
        return out


def kg_inputs(seed: int, size: KGSize) -> KGInputs:
    """Whole repos (one per language slot) + a monorepo file sample +
    the planted duplicate files, and the seeded ~1% change set.  The
    duplicate files are never changed: they share one canonical node,
    so their edits would move edges of every other copy."""
    rng = random.Random(seed)
    n_repos, base_modules, mono_factor, _ = corpus.SCALES[size.scale]
    rows, triples = [], {}

    def add(row, t):
        rows.append(row)
        triples[(row.repo, row.path)] = t

    for slot in range(size.whole_repos):
        # a fixed language per slot keeps the corpus size seed-independent
        lang_ix = (slot + 1) % len(corpus.LANGS)
        candidates = [i for i in range(1, n_repos) if i % len(corpus.LANGS) == lang_ix]
        i = rng.choice(candidates)
        for j in range(base_modules):
            add(*_module(size.scale, i, j))
    picked = rng.sample(range(base_modules * mono_factor), size.mono_files + size.adds)
    for j in picked[: size.mono_files]:
        add(*_module(size.scale, MONO, j))
    n_plain = len(rows)
    for row in _dup_shared(size.scale):
        fp = f"{row.repo}/{row.path}"
        add(row, {(fp, "defines", f"{fp}#dup_fn")})

    change = rng.sample(range(n_plain), size.edits + size.deletes)
    mutated = list(rows)
    for k in change[: size.edits]:
        r = mutated[k]
        note = f"\n{_COMMENT[r.lang]} edited by seed {seed}\n"
        mutated[k] = corpus.FileRow(r.repo, r.path, r.commit, r.lang, r.content + note)
    gone = set(change[size.edits :])
    mutated = [r for k, r in enumerate(mutated) if k not in gone]
    added = set()
    for j in picked[size.mono_files :]:
        row, t = _module(size.scale, MONO, j)
        mutated.append(row)
        triples[(row.repo, row.path)] = t
        added.add((row.repo, row.path))
    key = lambda k: (rows[k].repo, rows[k].path)
    return KGInputs(
        rows, triples, mutated, {key(k) for k in change[: size.edits]}, {key(k) for k in gone}, added
    )


def import_targets(seed: int, inputs: KGInputs, n: int) -> list[tuple[str, set]]:
    """``n`` module file entities of the closed-world repos, each with the
    files that import it (the answer of a ``who_imports`` read)."""
    rng = random.Random(seed * 613 + 5)
    files = [r for r in inputs.rows if not r.repo.startswith(f"org0/proj{MONO}") and "dup_shared" not in r.path]
    out = []
    for r in rng.sample(files, n):
        stem = r.path.rsplit("/", 1)[-1].split(".")[0]
        importers = {
            s
            for (repo, _), ts in inputs.triples.items()
            if repo == r.repo
            for s, p, o in ts
            if p == "imports" and o == stem
        }
        out.append((f"{r.repo}/{r.path}", importers))
    return out


def write_rows(rows: list[corpus.FileRow], path: str) -> None:
    table = pa.table({c: [getattr(r, c) for r in rows] for c in REPO_COLS})
    pq.write_table(table, path)


_VOCAB = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()


def search_queries(seed: int, rows: list[corpus.FileRow], n: int) -> list[tuple[str, str]]:
    """A seeded stream of ``n`` (kind, query) pairs alternating
    semantic and keyword queries about randomly chosen corpus files."""
    rng = random.Random(seed * 7919 + 1)
    stream = []
    for q in range(n):
        r = rng.choice(rows)
        j = r.path.rsplit("/", 1)[-1].split(".")[0][1:] or "0"
        if q % 2 == 0:
            stream.append(("semantic", f"def f{j}_{rng.randrange(3)} return value {r.lang}"))
        else:
            # three distinct plain words: every word is one scored BM25 term
            stream.append(("keyword", f"m{j} f{rng.randrange(1, 60)} {rng.choice(['return', 'class', 'import'])}"))
    return stream


def append_rows(seed: int, rows: list[corpus.FileRow], size: SearchSize, scale: str) -> list[corpus.FileRow]:
    """Edits of ``append_files`` indexed files plus as many new monorepo files."""
    rng = random.Random(seed * 104729 + 3)
    out = []
    for r in rng.sample(rows, size.append_files):
        out.append(corpus.FileRow(r.repo, r.path, r.commit, r.lang, r.content + f"\n{_COMMENT[r.lang]} v{seed}\n"))
    have = {(r.repo, r.path) for r in rows}
    _, base_modules, mono_factor, _ = corpus.SCALES[scale]
    while len(out) < 2 * size.append_files:
        row, _ = _module(scale, MONO, rng.randrange(base_modules * mono_factor))
        if (row.repo, row.path) not in have:
            have.add((row.repo, row.path))
            out.append(row)
    return out


def dedup_tables(seed: int, size: DocSize, out_dir: str) -> None:
    """``documents`` and ``embeddings`` parquet shaped like the driver's
    synthetic test tables, with planted exact and near duplicates so
    every dedup operator has work to do."""
    import numpy as np

    rng = random.Random(seed * 31 + 7)
    texts = []
    for d in range(size.docs):
        roll = rng.random()
        if texts and roll < 0.02:
            t = rng.choice(texts)  # exact duplicate
        elif texts and roll < 0.07:
            w = rng.choice(texts).split()  # near duplicate: one word swapped
            w[rng.randrange(len(w))] = rng.choice(_VOCAB)
            t = " ".join(w)
        else:
            t = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(8, 90)))
            if rng.random() < 0.05:
                t += " dup"
        texts.append(t)
    langs = ["en", "en", "en", "zh", "es", "fr", "de"]
    docs = pa.table(
        {
            "doc_id": pa.array(range(size.docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(langs) for _ in texts],
            "source": [f"src{d % 20}" for d in range(size.docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    g = np.random.default_rng(seed)
    vecs = g.standard_normal((size.vectors, 64)).astype(np.float32) * np.float32(0.1)
    emb = pa.table(
        {
            "vec_id": pa.array(range(size.vectors), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(g.integers(0, 10, size.vectors), pa.int32()),
        }
    )
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
