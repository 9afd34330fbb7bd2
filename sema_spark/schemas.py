"""Fixed StructType schemas for every table that crosses a stage boundary.

The reference declares its schemas statically at write time
(/root/reference/src/storage/lance_indexer.rs:35-46,
/root/reference/src/storage/text_indexer.rs:30-36); we do the same —
explicit StructTypes, never ``inferSchema``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

EMBEDDING_DIM = 384  # parity: /root/reference/src/storage/lance_indexer.rs:43

# ---------------------------------------------------------------------------
# Pipeline input (BASELINE.json input_hint): Iceberg/parquet table of repos.
REPOS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), True),
    ]
)

# Chunk record — generalizes the reference Chunk
# (/root/reference/src/types/mod.rs:40-47): id = "{repo}/{path}:{chunk_idx}" (repo-qualified; the single-repo reference uses path alone).
CHUNKS = StructType(
    [
        StructField("id", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("chunk_idx", LongType(), False),
        StructField("start_line", LongType(), False),
        StructField("end_line", LongType(), False),
        StructField("content", StringType(), False),
    ]
)

# Stored semantic-index rows (sources/ann_index): a chunk, its file's
# content_sha (the per-file checkpoint key) and its embedding —
# chunk_and_embed's column order.
STORED_CHUNKS = StructType(
    CHUNKS.fields
    + [
        StructField("content_sha", StringType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)

# Stage-1 output: candidate triples with provenance.  subj/obj use the
# entity-id convention "<repo>/<path>#<symbol>" (file-level subj when the
# symbol is the file itself: "<repo>/<path>").
TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),  # calls|imports|defines|contains
        StructField("obj", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("line", LongType(), True),
        StructField("content_sha", StringType(), False),
    ]
)

# Stage-2 output: triples with raw obj resolved to canonical entity ids
# (resolved=false rows keep the raw obj — external symbols).
LINKED_TRIPLES = StructType(
    TRIPLES.fields
    + [
        StructField("obj_id", StringType(), True),
        StructField("link_method", StringType(), True),  # alias|cosine|unresolved
        StructField("link_score", DoubleType(), True),
    ]
)

# Entity nodes.
NODES = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("canonical_id", StringType(), False),
        StructField("kind", StringType(), False),  # file|symbol|external
        StructField("repo", StringType(), True),
        StructField("path", StringType(), True),
        StructField("symbol", StringType(), True),
        StructField("content_sha", StringType(), True),
    ]
)

# Final edges (canonical ids).  content_sha rides along (r6): the
# north-rule per-row invariant that ties each edge to the file version
# it was extracted from.
EDGES = StructType(
    [
        StructField("src", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("line", LongType(), True),
        StructField("content_sha", StringType(), True),
    ]
)

# Checkpoint table — generalizes the reference FileIndex
# (/root/reference/src/types/mod.rs:49-53) from xxh3 to sha256 per the
# north-rule invariant.  Keyed (stage, repo, path, content_sha).
CHECKPOINT = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("content_sha", StringType(), False),
    ]
)

# Per-partition lineage/metrics rows (north rule: "per-partition lineage").
LINEAGE = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", LongType(), False),
        StructField("rows", LongType(), False),
        StructField("run_id", StringType(), False),
    ]
)
