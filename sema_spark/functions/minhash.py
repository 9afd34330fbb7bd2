"""MinHash signatures and LSH banding: JVM-side tokenizing, base hashes
and bands; the permutation grid runs Arrow-batched in numpy.

Replaces the reference's Lance ANN index
(/root/reference/src/storage/lance_indexer.rs:107-141) with a
shuffle-friendly blocking scheme: token shingles → k-permutation minhash
signature → banded hashes → equi-join on (band_idx, band_hash).
Candidate pairs then get exact re-ranking (cosine or Jaccard), so LSH
only affects recall, never precision.

Permutations are ``((a_i * h(t) + b_i) mod P) mod 2^31`` with a single
base ``xxhash64`` per token; coefficients come from a fixed LCG seed so
signatures are stable across runs/processes (determinism is load-bearing:
triple parity is judged set-wise).  Bounds chosen so no 64-bit overflow:
h < 2**31, a,b < 2**31 ⇒ a*h+b < 2**62.  The final ``mod 2^31`` fold is
essential: a*h spans only [0, 2P), so values mod P alone are NOT
min-wise uniform (empirically 3/64 signature agreement at true J=0.78;
folding restores ~J·k agreement — see tests/test_functions.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_P = (1 << 61) - 1  # Mersenne prime
_H_SPACE = 1 << 31

NUM_PERM = 64
LSH_BANDS = 16  # 16 bands x 4 rows; s-curve threshold ~ (1/16)^(1/4) ≈ 0.5


def choose_bands(threshold: float, num_perm: int = NUM_PERM) -> int:
    """Pick the band count whose S-curve midpoint (1/b)^(r/num_perm... )
    ≈ (1/b)^(1/r) sits at the requested similarity threshold.  A banding
    far below the threshold floods candidate generation: on corpora with
    small vocabularies (boilerplate), 16x4 banding at threshold 0.7
    produced near-N² candidates (measured 77s for 5k docs)."""
    best, best_gap = LSH_BANDS, 1e9
    b = 2
    while b <= num_perm:
        r = num_perm // b
        mid = (1.0 / b) ** (1.0 / r)
        gap = abs(mid - threshold)
        if gap < best_gap:
            best, best_gap = b, gap
        b *= 2
    return best


def _coefficients(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    # fixed LCG (MMIX constants) — deterministic, no RNG state dependency
    state = seed
    out = []
    for _ in range(2 * num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
        out.append(state % (_H_SPACE - 1) + 1)
    return out[:num_perm], out[num_perm:]


def tokenize(col: Column | str, pattern: str = "[^a-z0-9]+") -> Column:
    """Lowercased word-token set (distinct, no empties)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.array_distinct(F.split(F.lower(col), pattern)), "")


def char_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct character k-shingles in ONE compiled regex pass.

    ``(?s)(?=(.{k}))`` captures the k chars starting at every position
    via a zero-width lookahead (the standard overlapping-match trick);
    DOTALL keeps newline-crossing shingles, matching plain substring
    semantics.  Replaces the round-1..3 sequence+substr HOF — transform
    lambdas are interpreted per element, one substr per char position,
    which made shingling the single hottest step of the minhash family
    (measured at sf0.1: 3.6s HOF → 0.8s regex, sets identical on every
    doc incl. short/empty/newline/case edges)."""
    col = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.array_distinct(
        F.regexp_extract_all(col, F.lit(f"(?s)(?=(.{{{k}}}))"), 1)
    )


def _base_hash(t: Column, base: str) -> Column:
    """Per-token base hash < 2^31.  ``xxhash64`` is the fast JVM default;
    ``sha`` derives the hash from the first 8 hex chars of sha256 so a
    DuckDB oracle can compute the IDENTICAL value (xxhash64 does not
    exist there) — the same trick simhash uses for its oracle."""
    if base == "sha":
        return F.pmod(F.conv(F.substring(F.sha2(t, 256), 1, 8), 16, 10).cast("long"), F.lit(_H_SPACE))
    return F.pmod(F.xxhash64(t), F.lit(_H_SPACE))


def lsh_bands(sig: Column, bands: int = LSH_BANDS, num_perm: int = NUM_PERM) -> Column:
    """array<struct<band:int, bh:bigint>> — hash per signature band."""
    rows = num_perm // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.struct(
            j.cast("int").alias("band"),
            F.xxhash64(F.concat_ws("_", F.slice(sig, j * rows + 1, rows)), j).alias("bh"),
        ),
    )


# Bound of the token-hash memos: a memo is cleared when it exceeds this
# many entries (pathological vocabularies).
_MEMO_MAX = 1_000_000


def sha_token_hashes(tokens, memo: dict[str, int], hex_chars: int) -> list[int]:
    """``int(sha256(t).hexdigest()[:hex_chars], 16)`` per token under a
    distinct-token memo.  The hash is a pure function and corpora repeat
    a small vocabulary, so one hashlib call per DISTINCT token replaces
    one interpreted JVM sha2 per token OCCURRENCE.
    hashlib's sha256 hex equals the JVM's ``sha2(t, 256)``, so the value
    is the one the DuckDB oracles compute.  Each caller owns its memo; a
    memo referenced from a UDF closure ships with the pickled UDF, so it
    lives as long as the deserialized UDF on the worker."""
    import hashlib

    if len(memo) > _MEMO_MAX:
        memo.clear()
    vals = []
    for t in tokens:
        v = memo.get(t)
        if v is None:
            v = memo[t] = int(hashlib.sha256(t.encode("utf-8")).hexdigest()[:hex_chars], 16)
        vals.append(v)
    return vals


# sha base memo of the minhash signature UDF (see sha_token_hashes)
_SHA_BASE_MEMO: dict[str, int] = {}


def _signature_udf(num_perm: int, base_hashes):
    """Arrow-batched numpy permutation-min grid: array column → minhash
    signature.  ``base_hashes`` maps a non-empty row to its per-token
    base hashes (< 2^31); an empty or null row gets the sentinel
    signature.  In uint64, ``(a*h+b) mod P mod 2^31`` with a,h < 2^31 so
    a*h+b < 2^63 never overflows — the same arithmetic as the
    interpreted-HOF reference in tests/hof_oracles.py (asserted value-
    identical in tests/test_minhash_paths.py)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    a_co, b_co = _coefficients(num_perm)
    A = np.array(a_co, dtype=np.uint64)[:, None]
    B = np.array(b_co, dtype=np.uint64)[:, None]
    sentinel = [int(_P)] * num_perm

    def sig_one(row) -> list[int]:
        if row is None or len(row) == 0:
            return sentinel
        h = np.asarray(base_hashes(row), dtype=np.uint64)[None, :]
        m = (A * h + B) % _P % _H_SPACE
        return m.min(axis=1).astype(np.int64).tolist()

    # no type hints: they'd be unresolvable strings in this local scope
    def _impl(s):
        return s.map(sig_one)

    return pandas_udf(_impl, ArrayType(LongType()))


def with_minhash(
    df: DataFrame,
    text_col: str = "content",
    shingle_words: bool = True,
    num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS,
    base: str = "xxhash64",
    tokens_ready: bool = False,
) -> DataFrame:
    """Add mh_sig + mh_bands.  The permutation grid runs Arrow-batched
    in numpy (interpreted HOF lambdas made it the round-1 bench
    hotspot).  The xxhash64 base hash is one JVM-side pass per token;
    ``base="sha"`` makes signatures DuckDB-replicable (see
    :func:`_base_hash`) and computes that base in the Python batch under
    a distinct-token memo, bit-identical to the JVM form.
    ``tokens_ready=True`` means ``text_col`` already holds the
    token/shingle ARRAY (callers that shingled once for their own verify
    tier pass it through instead of paying the shingle scan twice)."""
    if tokens_ready:
        tokens = F.col(text_col)
    else:
        tokens = tokenize(text_col) if shingle_words else char_shingles(text_col)
    if base == "sha":
        # int(sha256(t).hexdigest()[:8], 16) % 2^31 is exactly the JVM's
        # pmod(conv(substring(sha2(t,256),1,8),16,10), 2^31)
        sig = _signature_udf(
            num_perm,
            lambda toks: np.asarray(sha_token_hashes(toks, _SHA_BASE_MEMO, 8), dtype=np.uint64)
            % _H_SPACE,
        )(tokens)
    else:
        hashes = F.transform(tokens, lambda t: _base_hash(t, base))
        sig = _signature_udf(num_perm, lambda h: h)(hashes)
    return df.withColumn("mh_sig", sig).withColumn(
        "mh_bands", lsh_bands(F.col("mh_sig"), bands, num_perm)
    )


def explode_bands(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """(id..., band, bh) rows — the LSH bucket join key."""
    return df.select(*id_cols, F.explode("mh_bands").alias("b")).select(
        *id_cols, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def agreement_rate(A: np.ndarray, B: np.ndarray) -> pd.Series:
    """Per-row signature agreement rate of two n×num_perm matrices — the
    unbiased Jaccard estimate.  The agreement count is an exact integer
    and count/num_perm one int/int→double quotient, so no summation-order
    freedom exists."""
    return pd.Series((A == B).sum(axis=1) / A.shape[1])


def estimated_jaccard_arrow(sig_a: Column, sig_b: Column) -> Column:
    """Arrow-batched :func:`agreement_rate` of two signature columns —
    value-identical to the interpreted zip_with/aggregate fold
    (tests/hof_oracles.py; asserted in tests/test_minhash_paths.py),
    which was 64 interpreted lambda evaluations per pair, the measured
    hot half of the star-edge verify at sf1.0."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _est(sa, sb):
        if len(sa) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(sa.map(lambda x: np.asarray(x, dtype=np.int64)))
        B = np.stack(sb.map(lambda x: np.asarray(x, dtype=np.int64)))
        return agreement_rate(A, B)

    return _est(sig_a, sig_b)
