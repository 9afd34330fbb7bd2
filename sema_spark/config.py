"""Pipeline configuration (SURVEY S9) — the reference's TOML-backed
CrawlerConfig (/root/reference/src/config/mod.rs:26-115,
/root/reference/src/types/mod.rs:3-11) as a dataclass whose fields
compile to Catalyst predicates.

Config is driver-side state, not a dataflow operator: load → build
predicates → let Catalyst push them into the scan.  This is the one
definition of the crawl filter (SURVEY F1-F3): the reference applies
its crawler config once, when it crawls, and so do callers here —
``PipelineConfig.apply`` on the input, then ``run_pipeline`` (the CLI
does exactly this).  Stage 1 adds only the 50-char content guard (F4,
``mentions.MIN_CONTENT_CHARS``), a processor constant in the reference
(src/storage/processor.rs:8), not a config key.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reference defaults (src/config/mod.rs:30-102) — 73 extensions.
DEFAULT_EXTENSIONS = (
    "rs py js ts jsx tsx go java kt scala c cpp cc cxx h hpp cs rb php swift "
    "dart lua pl sh bash zsh fish ps1 bat r jl hs elm clj ex erl vim asm s "
    "html htm css scss sass less vue svelte json yaml yml toml xml ini cfg "
    "conf properties env md markdown txt rst adoc asciidoc tex rtf sql "
    "graphql gql log csv tsv"
).split()

# src/config/mod.rs:103-110
DEFAULT_EXCLUDE_PATTERNS = [".git", "target", "node_modules", ".cache", "*.tmp", "*.log"]


@dataclass
class PipelineConfig:
    max_file_size: int = 10_485_760  # src/config/mod.rs:29
    file_extensions: list[str] = field(default_factory=lambda: list(DEFAULT_EXTENSIONS))
    exclude_patterns: list[str] = field(default_factory=lambda: list(DEFAULT_EXCLUDE_PATTERNS))
    include_hidden: bool = False  # src/config/mod.rs:113

    @classmethod
    def from_toml(cls, path: str) -> "PipelineConfig":
        """Load overrides from a TOML file (reference: ~/.sema/config.toml,
        src/config/mod.rs:118-174); unknown keys ignored, defaults kept."""
        import tomllib

        with open(path, "rb") as f:
            data = tomllib.load(f)
        general = data.get("general", data)
        kwargs = {}
        for key in ("max_file_size", "file_extensions", "exclude_patterns", "include_hidden"):
            if key in general:
                kwargs[key] = general[key]
        return cls(**kwargs)

    # -- predicate builders ------------------------------------------------
    def extension_predicate(self) -> Column:
        """F1: normalized extension ∈ allow-list; files without an
        extension are dropped (src/crawler/mod.rs:28-42,88-100)."""
        ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
        exts = [e.lstrip("*.").lower() for e in self.file_extensions]
        return F.col("path").contains(".") & ext.isin(exts)

    def exclude_predicate(self) -> Column:
        """F3: exclude-pattern globs → one path regex (dir segments match
        anywhere; *.ext patterns match suffixes).  Both halves are
        regex-escaped — an unescaped suffix like 'min.js' would let the
        dot match any character ('bundleminxjs' wrongly excluded)."""
        import re as _re

        dirs = [p for p in self.exclude_patterns if not p.startswith("*.")]
        sufs = [p[2:] for p in self.exclude_patterns if p.startswith("*.")]
        parts = []
        if dirs:
            parts.append("(^|/)(" + "|".join(_re.escape(d) for d in dirs) + ")(/|$)")
        if sufs:
            parts.append(r"\.(" + "|".join(_re.escape(s) for s in sufs) + ")$")
        return ~F.col("path").rlike("|".join(parts)) if parts else F.lit(True)

    def hidden_predicate(self) -> Column:
        if self.include_hidden:
            return F.lit(True)
        return ~F.col("path").rlike(r"(^|/)\.")

    def size_predicate(self) -> Column:
        """F2: content present and at most ``max_file_size`` BYTES
        (reference semantics, config/mod.rs:29) → octet_length.  The
        50-char minimum is stage 1's guard (F4), not a config key."""
        return F.col("content").isNotNull() & (F.octet_length("content") <= self.max_file_size)

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(
            self.size_predicate()
            & self.extension_predicate()
            & self.exclude_predicate()
            & self.hidden_predicate()
        )
