"""Gitignore-content semantics over a file table (SURVEY F3, full
fidelity tier).

The reference honors actual .gitignore files while crawling
(/root/reference/src/crawler/mod.rs:44-56 via the `ignore` crate).  In
the table-input world the equivalent is a per-repo PATTERNS table
``(repo, idx, pattern)`` — idx is the line number, because gitignore
resolution is LAST MATCH WINS with ``!`` negation re-including.

Everything is expression-level: glob→regex compilation is a
``regexp_replace`` chain over the pattern column (the patterns table can
be billions of rows without a driver collect), matching is a repo-keyed
join + ``RLIKE`` with a column pattern, and the winner per path is one
``max_by(negated, idx)`` aggregate.  Patterns-per-repo is naturally
small, so on a cluster the join broadcasts or co-partitions by repo.

Supported subset (documented): comments/blank lines, ``!`` negation,
``/``-anchoring (a ``/`` anywhere except trailing roots the pattern),
``*`` ``?`` ``**`` globs, trailing-``/`` directory patterns (which, in a
file table, ignore everything under the directory).  Per-subdirectory
.gitignore files are out of scope — prefix their patterns with the
directory when building the table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PROTECT = "\x01"  # placeholder for ** while single * is rewritten


def _glob_body_regex(p: Column) -> Column:
    """Gitignore glob body → Java regex, as a pure expression chain."""
    r = F.regexp_replace(p, r"([.+(){}\[\]^$|\\])", "\\\\$1")  # escape metachars
    r = F.regexp_replace(r, r"\*\*", _PROTECT)
    r = F.regexp_replace(r, r"\*", "[^/]*")
    r = F.regexp_replace(r, r"\?", "[^/]")
    r = F.regexp_replace(r, _PROTECT + "/", "(.*/)?")  # '**/x': any depth prefix
    r = F.regexp_replace(r, "/" + _PROTECT, "(/.*)?")  # 'x/**': everything under
    r = F.regexp_replace(r, _PROTECT, ".*")  # bare '**'
    return r


def compile_gitignore(
    patterns: DataFrame,
    repo_col: str = "repo",
    idx_col: str = "idx",
    pattern_col: str = "pattern",
) -> DataFrame:
    """(repo, idx, pattern) → (repo, idx, negated, rx) rules.

    Comments and blank lines are dropped; ``!`` strips to a negated
    rule; anchoring and directory suffixes follow gitignore semantics.
    """
    p = F.trim(F.col(pattern_col))
    base = patterns.filter((p != "") & ~p.startswith("#")).select(
        F.col(repo_col).alias("repo"),
        F.col(idx_col).alias("idx"),
        p.startswith("!").alias("negated"),
        F.when(p.startswith("!"), F.substring(p, 2, 1 << 20)).otherwise(p).alias("_p"),
    )
    is_dir = F.col("_p").endswith("/")
    body0 = F.when(is_dir, F.expr("substring(_p, 1, length(_p) - 1)")).otherwise(F.col("_p"))
    lead = body0.startswith("/")
    body1 = F.when(lead, F.substring(body0, 2, 1 << 20)).otherwise(body0)
    anchored = lead | body1.contains("/")
    rx = F.concat(
        F.when(anchored, F.lit("^")).otherwise(F.lit("(^|.*/)")),
        _glob_body_regex(body1),
        F.when(is_dir, F.lit("/.*$")).otherwise(F.lit("(/.*)?$")),
    )
    return base.select("repo", "idx", "negated", rx.alias("rx"))


def apply_gitignore(
    df: DataFrame,
    patterns: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
) -> DataFrame:
    """Drop rows of ``df`` ignored by their repo's gitignore patterns.

    Last match wins: a path is dropped iff the highest-idx matching rule
    is non-negated.  One repo-keyed join + one aggregate; the rules
    always broadcast (per-repo pattern lists are tiny).
    """
    rules = F.broadcast(compile_gitignore(patterns))
    keys = df.select(F.col(repo_col).alias("repo"), F.col(path_col).alias("path")).distinct()
    matches = keys.join(rules, "repo").filter(F.expr("path rlike rx"))
    ignored = (
        matches.groupBy("repo", "path")
        .agg(F.max_by("negated", "idx").alias("_neg"))
        .filter(~F.col("_neg"))
        .select(F.col("repo").alias("_ig_repo"), F.col("path").alias("_ig_path"))
    )
    return df.join(
        ignored,
        on=[df[repo_col] == F.col("_ig_repo"), df[path_col] == F.col("_ig_path")],
        how="left_anti",
    )

