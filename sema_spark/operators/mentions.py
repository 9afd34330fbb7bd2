"""Stage 1 — mention detection / triple extraction.

Generalizes the reference's crawl+chunk scan
(/root/reference/src/crawler/mod.rs:27-71,
/root/reference/src/storage/processor.rs:31-85) into per-file symbol
mention detection emitting candidate ``(subj, pred, obj)`` triples with
line provenance, ``pred ∈ {defines, contains, imports, calls}``.

:func:`extract_triples` runs on pure built-in functions:
``posexplode(split(content,'\\n'))`` + per-language
``regexp_extract_all`` banks evaluated inside whole-stage codegen.  No
Python in the loop at all; the whole stage is one narrow map followed
by a single dedup shuffle.

Semantics (documented approximations, shared with the fixture oracle):

* triples are file-attributed: ``(repo/path, calls, sym)`` rather than
  per-enclosing-function attribution;
* ``contains`` links a file's (single) class/struct to its indented
  methods — multi-class files attribute methods to the first class;
* files shorter than :data:`MIN_CONTENT_CHARS` produce no triples
  (reference MIN_CHUNK_SIZE guard,
  /root/reference/src/storage/processor.rs:8,34-36).
* that guard is a stage-1 constant, not a config key: the crawl
  options (SURVEY F1-F3) are applied once, by
  :meth:`sema_spark.config.PipelineConfig.apply`, before the input
  reaches :func:`extract_triples`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MIN_CONTENT_CHARS = 50
SALT_BUCKETS = 64

# Per-line patterns (RE2-safe: no lookbehind, so the DuckDB oracle can run
# the same bank).  Group 1 is the symbol.
PATTERN_BANK: dict[str, list[tuple[str, str]]] = {
    "py": [
        ("import", r"^import ([A-Za-z_][\w.]*)"),
        ("import", r"^from ([A-Za-z_][\w.]*) import"),
        ("def_fn", r"^def (\w+)\("),
        ("def_class", r"^class (\w+)"),
        ("def_method", r"^    def (\w+)\("),
        ("call", r"= (\w+)\("),
    ],
    "js": [
        ("import", r"^import .* from '\./(\w+)\.js';"),
        ("import", r"require\('\./(\w+)\.js'\)"),
        ("def_fn", r"^function (\w+)\("),
        ("def_class", r"^class (\w+)"),
        ("def_method", r"^  (\w+)\("),
        ("call", r"= (\w+)\("),
    ],
    "rs": [
        ("import", r"^use crate::(\w+);"),
        ("def_fn", r"^fn (\w+)\("),
        ("def_class", r"^struct (\w+)"),
        ("def_method", r"^    fn (\w+)\("),
        ("call", r"= (\w+)\("),
    ],
    "go": [
        ("import", r'^import "repo/(\w+)"'),
        ("def_fn", r"^func (\w+)\("),
        ("def_class", r"^type (\w+) struct"),
        ("def_method", r"^func \(\w+ \w+\) (\w+)\("),
        ("call", r":= (\w+)\("),
    ],
    "java": [
        ("import", r"^import repo\.(\w+);"),
        ("def_fn", r"^  static int (\w+)\("),
        ("def_class", r"^public class (\w+)"),
        ("def_method", r"^  int (\w+)\("),
        ("call", r"= (\w+)\("),
    ],
}

# File-level class pattern (single pass over content, multiline): a
# file's first class/struct is the `contains` parent for its methods.
CLASS_PATTERN = {
    "py": r"(?m)^class (\w+)",
    "js": r"(?m)^class (\w+)",
    "rs": r"(?m)^struct (\w+)",
    "go": r"(?m)^type (\w+) struct",
    "java": r"(?m)^public class (\w+)",
}

_KIND_PRED = {
    "import": "imports",
    "def_fn": "defines",
    "def_class": "defines",
    "def_method": "contains",
    "call": "calls",
}


def with_content_sha(df: DataFrame) -> DataFrame:
    """North-rule per-row invariant: content_sha == sha256(content)."""
    return df.withColumn("content_sha", F.sha2(F.col("content"), 256))


def salted_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Defuse monorepo skew before heavy per-file stages: partition on
    (repo, xxhash64(path) % SALT) so one giant repo spreads across
    SALT_BUCKETS tasks instead of one (north rule: explicit skew handling).

    The partition count is always EXPLICIT: AQE's coalescing targets
    ~64MB partitions, which is right for IO-bound stages but serializes
    CPU-bound extraction (measured: 78MB of content coalesced to ~2
    tasks, scaling efficiency 0.36 → broken).  An explicit count opts
    the exchange out of AQE coalescing; default 3x total cores keeps
    every core busy with skew headroom.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 3
    key = F.pmod(F.xxhash64("repo", "path"), F.lit(SALT_BUCKETS))
    return df.repartition(num_partitions, F.col("repo"), key)


def _mention_array(bank: list[tuple[str, str]]) -> Column:
    """array<struct<kind,sym>> of every pattern match in one line."""
    def tag(kind: str):
        # one-arg lambda: pyspark's transform must not see an index param
        return lambda s: F.struct(F.lit(kind).alias("kind"), s.alias("sym"))

    arrays = [
        F.transform(F.regexp_extract_all(F.col("line"), F.lit(pat), F.lit(1)), tag(kind))
        for kind, pat in bank
    ]
    return F.flatten(F.array(*arrays))


def _file_class_col() -> Column:
    expr = F.lit(None).cast("string")
    for lang, pat in CLASS_PATTERN.items():
        expr = F.when(F.col("lang") == lang, F.regexp_extract("content", pat, 1)).otherwise(expr)
    return F.nullif(expr, F.lit(""))


def extract_mentions(df: DataFrame) -> DataFrame:
    """(repo, path, commit, lang, content, content_sha) →
    (repo, path, commit, content_sha, line, kind, sym, file_class).

    Pure built-ins; one narrow map, no shuffle.
    """
    mention_expr = F.lit(None).cast("array<struct<kind:string,sym:string>>")
    prefilter = F.lit(False)
    for lang, bank in PATTERN_BANK.items():
        mention_expr = F.when(F.col("lang") == lang, _mention_array(bank)).otherwise(mention_expr)
        # r7: one combined-alternation pass per line BEFORE the 6-pattern
        # capture bank — the union of the very same patterns, so a
        # dropped line is exactly a line whose mention array would have
        # been empty (explode drops it anyway).  ~50% of lines match
        # nothing, and rlike's single scan is ~6x cheaper than the full
        # bank: measured 3.1 -> 2.4s on the bench corpus, identical
        # 1,676,241 triples.
        prefilter = F.when(
            F.col("lang") == lang, F.col("line").rlike("|".join(p for _, p in bank))
        ).otherwise(prefilter)
    lines = df.withColumn("file_class", _file_class_col()).select(
        "repo",
        "path",
        "commit",
        "content_sha",
        "file_class",
        "lang",
        F.posexplode(F.split("content", "\n")).alias("pos", "line"),
    ).filter(prefilter)
    return (
        lines.select(
            "repo",
            "path",
            "commit",
            "content_sha",
            "file_class",
            (F.col("pos") + 1).alias("line"),
            F.explode(mention_expr).alias("m"),
        )
        .select(
            "repo",
            "path",
            "commit",
            "content_sha",
            "file_class",
            "line",
            F.col("m.kind").alias("kind"),
            F.col("m.sym").alias("sym"),
        )
    )


def mentions_to_triples(mentions: DataFrame) -> DataFrame:
    """Assemble TRIPLES rows from mention rows — single select, no join:
    the `contains` parent class was extracted file-level, so no
    mention-vs-mention self-join is needed (shuffle saved at 100 TB).

    Dedup happens at the MENTION level, before subj/obj strings are
    built: the shuffle then carries (pred, sym) instead of two long
    entity-id strings that each embed repo/path again (~40% fewer
    shuffled bytes, and concat runs once per distinct mention).  The
    dedup key uses pred (not kind) so def_fn/def_class name collisions
    still collapse to one `defines` triple, exactly as a triple-level
    distinct would.
    """
    kind = F.col("kind")
    pred = F.element_at(
        F.create_map(*[F.lit(x) for kv in _KIND_PRED.items() for x in kv]), kind
    )
    base = mentions.filter(
        (kind != "def_method") | F.col("file_class").isNotNull()
    ).select(
        "repo",
        "path",
        "commit",
        "content_sha",
        "file_class",
        "line",
        "sym",
        pred.alias("pred"),
    )
    base = base.groupBy(
        "repo", "path", "commit", "content_sha", "file_class", "pred", "sym"
    ).agg(F.min("line").alias("line"))
    file_id = F.concat_ws("/", "repo", "path")
    p = F.col("pred")
    subj = F.when(
        p == "contains", F.concat(file_id, F.lit("#"), F.col("file_class"))
    ).otherwise(file_id)
    obj = F.when(
        p.isin("defines", "contains"), F.concat(file_id, F.lit("#"), F.col("sym"))
    ).otherwise(F.col("sym"))
    return base.select(
        subj.alias("subj"),
        "pred",
        obj.alias("obj"),
        "repo",
        "path",
        "commit",
        "line",
        "content_sha",
    )


def extract_triples(df: DataFrame) -> DataFrame:
    """Stage 1: F4 guard → mention scan → triple assembly.

    The guard (content present and at least :data:`MIN_CONTENT_CHARS`
    long) is the only filter here.  The crawl options (F1-F3: size cap,
    extensions, excludes, hidden files) belong to
    :class:`sema_spark.config.PipelineConfig`; its ``apply`` runs on the
    input before it reaches the pipeline.
    """
    if "content_sha" not in df.columns:
        df = with_content_sha(df)
    df = df.filter(F.col("content").isNotNull() & (F.length("content") >= MIN_CONTENT_CHARS))
    return mentions_to_triples(extract_mentions(df))
