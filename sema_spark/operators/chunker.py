"""W1 — overlapping sliding-window chunker with line provenance.

Byte-exact semantic parity with the reference
(/root/reference/src/storage/processor.rs:31-85): 1000-byte windows,
100-byte overlap, window end snapped back to a UTF-8 char boundary and
then to just-after the last newline; a chunk is kept if ≥ 50 bytes or it
is the file's first; files under 50 bytes produce nothing; line numbers
count newlines before/inside the window.  Chunk id = "{repo}/{path}:{idx}"
(repo-qualified: the reference is single-repo, this engine is not — a
path-only id would collide for same-named files across repos)
(processor.rs:62).

The char-window walk is inherently per-string, so it runs inside an
Arrow-batched ``mapInPandas`` (one Python hop for the whole stage, no
per-row round trips); everything before/after stays in the JVM.
``chunk_python`` is the plain-Python reference implementation used by
parity and property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sema_spark.plans.materialize import spread
from sema_spark.schemas import CHUNKS

CHUNK_SIZE = 1000
OVERLAP_SIZE = 100
MIN_CHUNK_SIZE = 50


def _is_char_boundary(b: bytes, i: int) -> bool:
    return i == len(b) or (b[i] & 0xC0) != 0x80


def chunk_python(content: str) -> list[tuple[int, int, int, str]]:
    """→ [(chunk_idx, start_line, end_line, chunk_content)] — reference
    algorithm, byte offsets, for parity tests and the UDF core."""
    out: list[tuple[int, int, int, str]] = []
    b = content.encode("utf-8")
    if len(b) < MIN_CHUNK_SIZE:
        return out
    if len(b) <= CHUNK_SIZE:
        # r7 fast path, value-identical to the walk below for a file
        # that fits one window (most corpus files): chunk 0 is the whole
        # file (end == safe_end == n, newline snap skipped), then the
        # reference's overlap quirk (processor.rs:72, test_exactly_1000_chars)
        # re-enters at the char-boundary-snapped n-OVERLAP and emits the
        # tail as chunk 1 whenever that start is > 0 — after which
        # next_start equals start and the walk ends.
        n = len(b)
        out.append((0, 1, 1 + b.count(b"\n"), content))
        tail_start = max(n - OVERLAP_SIZE, 0)
        while tail_start < n and not _is_char_boundary(b, tail_start):
            tail_start += 1
        if tail_start > 0:
            tail = b[tail_start:]
            if len(tail) >= MIN_CHUNK_SIZE:
                sl = b.count(b"\n", 0, tail_start) + 1
                out.append((1, sl, sl + tail.count(b"\n"), tail.decode("utf-8")))
        return out
    start = 0
    chunk_id = 0
    n = len(b)
    while start < n:
        end = min(start + CHUNK_SIZE, n)
        safe_end = end
        while safe_end > start and not _is_char_boundary(b, safe_end):
            safe_end -= 1
        if safe_end < n:
            pos = b.rfind(b"\n", start, safe_end)
            if pos != -1:
                safe_end = pos + 1
        chunk = b[start:safe_end]
        if len(chunk) >= MIN_CHUNK_SIZE or chunk_id == 0:
            start_line = b.count(b"\n", 0, start) + 1
            end_line = start_line + chunk.count(b"\n")
            out.append((chunk_id, start_line, end_line, chunk.decode("utf-8")))
            chunk_id += 1
        next_start = max(safe_end - OVERLAP_SIZE, 0)
        # Deviation from the reference: processor.rs:72 can place the
        # overlap start mid-UTF-8-char, which panics Rust's slice (latent
        # reference bug, surfaced by hypothesis).  We snap forward to the
        # next char boundary (slightly shrinking the overlap) instead.
        while next_start < n and not _is_char_boundary(b, next_start):
            next_start += 1
        start = safe_end if next_start <= start else next_start
        if start >= n:
            break
    return out


def chunk_files(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(repo, path, …, content) → CHUNKS rows (1 file → N chunks).

    ``carry``: extra per-FILE columns replicated onto every chunk of
    that file (the carry-column pattern — e.g. the stored semantic
    index threads ``content_sha`` through so no post-chunk join is
    needed to attach file-level metadata)."""
    from pyspark.sql.types import StructType

    schema = StructType(CHUNKS.fields + [df.schema[c] for c in carry])

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in CHUNKS.names}
            for c in carry:
                rows[c] = []
            for i, (repo, path, content) in enumerate(
                zip(pdf["repo"], pdf["path"], pdf["content"])
            ):
                if content is None:
                    continue
                for idx, sl, el, text in chunk_python(content):
                    rows["id"].append(f"{repo}/{path}:{idx}")
                    rows["repo"].append(repo)
                    rows["path"].append(path)
                    rows["chunk_idx"].append(idx)
                    rows["start_line"].append(sl)
                    rows["end_line"].append(el)
                    rows["content"].append(text)
                    for c in carry:
                        rows[c].append(pdf[c].iloc[i])
            yield pd.DataFrame(rows)

    # r7: spread the slim projection — the Python chunk walk AND the
    # downstream encoder otherwise run on the scan's single partition
    # (chunk rows are a pure per-file function)
    return spread(df.select("repo", "path", "content", *carry)).mapInPandas(run, schema=schema)


def chunk_and_embed(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Chunk then encode — the reference's index path (chunk → 384-dim
    vector per chunk, /root/reference/src/storage/lance_indexer.rs:30-105)."""
    from sema_spark.functions.encoder import with_embedding

    return with_embedding(chunk_files(df, carry=carry))
