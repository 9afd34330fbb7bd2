"""Deterministic hashing text encoder — the test/parity stand-in for the
reference's MiniLM ONNX encoder.

Contract parity with /root/reference/src/semantic/embeddings.rs:26-91:

* tokenize with truncation at :data:`MAX_TOKENS` (reference MAX_LENGTH=256,
  embeddings.rs:7) — here "tokens" are UTF-8 byte 3-grams;
* per-token embedding — here a signed basis vector chosen by a stable
  multiplicative hash (no model download, fully deterministic across
  processes: never Python's seeded ``hash``);
* masked mean-pool over tokens, then L2 normalization (embeddings.rs:61-91);
* output: 384-dim float32 (lance_indexer.rs:43).

Exposed as an Arrow-batched ``pandas_udf`` with the per-worker state held
at module level — deliberately fixing the reference's
encoder-reload-per-batch inefficiency
(/root/reference/src/storage/lance_indexer.rs:60-73): nothing to reload,
and a real model would be a module-level singleton in the same slot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from sema_spark.schemas import EMBEDDING_DIM

MAX_TOKENS = 256  # parity: reference MAX_LENGTH
_MULT = 2654435761  # Knuth multiplicative hash constant


def encode_batch_numpy(texts) -> np.ndarray:
    """Whole-batch encoder, the one production encoder path:
    VALUE-IDENTICAL to a loop of the per-row reference encoder
    ``encode_numpy`` in tests/hof_oracles.py (asserted in
    tests/test_vector_fold.py::test_encode_batch_matches_per_row)
    but vectorized across rows — the per-row path was the measured
    hotspot of u1_encoder / semantic_index_build (one ``np.add.at`` +
    two tiny array allocations per document).

    Why bit-identity holds despite batching:

    * the scatter-accumulate sums ±1.0 values — exact integers in
      float64, so ANY accumulation order (here one ``np.bincount`` over
      the whole batch) produces the identical sums ``np.add.at`` did;
    * mean-pool and normalize are elementwise float64 ops with the same
      operands per row;
    * the norm is ``sqrt(np.dot(row, row))`` per row — literally the
      reduction ``np.linalg.norm`` performs for 1-D input.
    """
    n = len(texts)
    dim = EMBEDDING_DIM
    if n == 0:
        return np.zeros((0, dim), dtype=np.float32)
    # truncate at the byte level: code j reads bytes [j, j+2] and only
    # j < MAX_TOKENS survive, so bytes past MAX_TOKENS+2 never matter —
    # slicing them off before the join bounds the buffer at 258 B/row
    # regardless of document size (the unsliced version was measured
    # SLOWER than the per-row loop on long-document batches)
    enc = [
        t.encode("utf-8")[: MAX_TOKENS + 2] if t else b""  # falsy → no tokens
        for t in texts
    ]
    counts = np.array(
        [min(len(e) - 2, MAX_TOKENS) if len(e) >= 3 else 0 for e in enc],
        dtype=np.int64,
    )
    total = int(counts.sum())
    if total == 0:
        return np.zeros((n, dim), dtype=np.float32)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.int64)
    lens = np.array([len(e) for e in enc], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # absolute position of each row's code window starts: for row i the
    # codes are buf[starts[i] + j] for j in [0, counts[i])
    row_ids = np.repeat(np.arange(n, dtype=np.int64), counts)
    # within-row offsets 0..counts[i]-1 via the cumsum-reset trick
    seq = np.arange(total, dtype=np.int64)
    row_first = np.concatenate(([0], np.cumsum(counts)[:-1]))
    offs = seq - np.repeat(row_first, counts)
    p = np.repeat(starts, counts) + offs
    codes = (buf[p] << 16) + (buf[p + 1] << 8) + buf[p + 2]
    h = (codes * _MULT) & 0xFFFFFFFF
    idx = h % dim
    sign = np.where((h >> 16) & 1, 1.0, -1.0)
    sums = np.bincount(row_ids * dim + idx, weights=sign, minlength=n * dim).reshape(
        n, dim
    )
    nz = counts > 0
    sums[nz] /= counts[nz, None]  # mean pool
    # per-row norm: same sqrt(dot(x, x)) np.linalg.norm computes for 1-D
    norms = np.sqrt(np.array([np.dot(r, r) for r in sums]))
    pos = norms > 0
    sums[pos] /= norms[pos, None]  # L2 normalize
    return sums.astype(np.float32)


@pandas_udf(ArrayType(FloatType()))
def encode_text(s: pd.Series) -> pd.Series:
    return pd.Series(list(encode_batch_numpy(s.tolist())))


def with_embedding(df):
    return df.withColumn("embedding", encode_text(F.col("content")))


def encode_query(text: str) -> list[float]:
    """Driver-side single-query encoding (search entry point B,
    /root/reference/src/storage/lance_indexer.rs:113-118)."""
    return [float(x) for x in encode_batch_numpy([text])[0]]

