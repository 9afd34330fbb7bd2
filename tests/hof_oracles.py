"""Per-row references for the batched production forms.

* The dedup family and the vector functions: interpreted
  higher-order-function references, built only from Spark built-ins
  (``transform``/``aggregate``/``zip_with`` lambdas, no Python
  workers).  :func:`dot`, :func:`l2_norm` and :func:`cosine` sum
  sequentially in index order — the arithmetic that
  ``functions/vector``'s Arrow fold vectorizes across rows.
* The encoder: :func:`encode_numpy`, the one-string numpy encoder that
  ``functions/encoder.encode_batch_numpy`` vectorizes across rows.

These are independent implementations of the arithmetic the production
forms perform.  The parity tests assert the production forms
value-identical to them; the DuckDB oracles in
``__spark_entry__.oracle_sql`` replicate the same arithmetic.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from sema_spark.functions.encoder import _MULT, MAX_TOKENS
from sema_spark.functions.minhash import NUM_PERM, _H_SPACE, _P, _base_hash, _coefficients, tokenize
from sema_spark.operators.dedup import SIMHASH_BITS
from sema_spark.schemas import EMBEDDING_DIM


def dot(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null/zero-norm safe (returns NULL)."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def encode_numpy(text: str | None) -> np.ndarray:
    """Encode one string: UTF-8 byte 3-grams (truncated at
    ``MAX_TOKENS``), a signed hashed basis vector per gram, mean pool,
    L2 normalize."""
    out = np.zeros(EMBEDDING_DIM, dtype=np.float64)
    if not text:
        return out.astype(np.float32)
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    if len(b) < 3:
        return out.astype(np.float32)
    codes = (b[:-2] << 16) + (b[1:-1] << 8) + b[2:]
    codes = codes[:MAX_TOKENS]  # truncation parity
    h = (codes * _MULT) & 0xFFFFFFFF
    idx = h % EMBEDDING_DIM
    sign = np.where((h >> 16) & 1, 1.0, -1.0)
    np.add.at(out, idx, sign)
    out /= len(codes)  # mean pool
    n = np.linalg.norm(out)
    if n > 0:
        out /= n  # L2 normalize
    return out.astype(np.float32)


def minhash_signature(tokens: Column, num_perm: int = NUM_PERM, base: str = "xxhash64") -> Column:
    """array<bigint> minhash signature of a token array:
    ``min_t ((a_i * h(t) + b_i) mod P) mod 2^31`` per permutation i, the
    sentinel P for an empty token set."""
    a_co, b_co = _coefficients(num_perm)
    hs = F.transform(tokens, lambda t: _base_hash(t, base))
    pairs = F.arrays_zip(
        F.array(*[F.lit(a) for a in a_co]).alias("a"),
        F.array(*[F.lit(b) for b in b_co]).alias("b"),
    )
    return F.transform(
        pairs,
        lambda p: F.coalesce(
            F.array_min(
                F.transform(
                    hs,
                    lambda h: F.pmod(F.pmod(p["a"] * h + p["b"], F.lit(_P)), F.lit(_H_SPACE)),
                )
            ),
            F.lit(_P),
        ),
    )


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Signature agreement rate — unbiased Jaccard estimate."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.size(sig_a)


def simhash(col, num_bits: int = SIMHASH_BITS) -> Column:
    """Simhash of the word-token set as a ``num_bits``-char bit string:
    bit_i = sign of Σ_tokens (±1 per bit i of sha256(token)[0:60]), one
    interpreted aggregate pass per bit."""
    hex15 = F.transform(tokenize(col), lambda t: F.substring(F.sha2(t, 256), 1, 15))
    bitstrs = F.transform(hex15, lambda h: F.lpad(F.conv(h, 16, 2), num_bits, "0"))
    return F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), F.lit(num_bits)),
            lambda i: F.when(
                F.aggregate(
                    bitstrs,
                    F.lit(0),
                    lambda acc, s: acc + F.when(s.substr(i, F.lit(1)) == "1", 1).otherwise(-1),
                )
                > 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
    )
