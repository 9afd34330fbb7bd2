"""Gitignore-content semantics (F3 full-fidelity tier): glob→regex
compilation, anchoring, directory patterns, last-match-wins negation."""

from sema_spark.operators.gitignore import apply_gitignore, compile_gitignore


def gitignore_table(spark, rows: list[tuple[str, str]]):
    """A (repo, idx, pattern) patterns table from (repo, gitignore-file-
    content) pairs — the shape a crawler would emit after reading each
    repo's root .gitignore."""
    flat = [
        (repo, idx, line)
        for repo, content in rows
        for idx, line in enumerate(content.splitlines())
    ]
    return spark.createDataFrame(flat, "repo string, idx int, pattern string")


GITIGNORE = "\n".join(
    [
        "# build artifacts",
        "*.log",
        "build/",
        "/rooted.txt",
        "docs/**/*.tmp",
        "!keep.log",
        "cache-?",
        "",
    ]
)

PATHS = [
    "src/app.py",          # kept: nothing matches
    "src/debug.log",       # ignored: *.log at any depth
    "keep.log",            # kept: !keep.log wins (later rule)
    "src/keep.log",        # kept: negation matches at any depth too
    "build/out.bin",       # ignored: build/ directory pattern
    "src/build/x.o",       # ignored: unanchored dir pattern matches deep
    "rooted.txt",          # ignored: /rooted.txt anchored at root
    "src/rooted.txt",      # kept: anchor means root only
    "docs/a/b/x.tmp",      # ignored: ** spans directories
    "docsx/x.tmp",         # kept: 'docs/' must be a real segment
    "cache-1",             # ignored: ? matches one char
    "cache-12",            # kept: ? is exactly one char
]


def _survivors(spark, repo="r1"):
    files = spark.createDataFrame([(repo, p, "x" * 60) for p in PATHS], "repo string, path string, content string")
    patterns = gitignore_table(spark, [(repo, GITIGNORE)])
    return {r.path for r in apply_gitignore(files, patterns).collect()}


def test_gitignore_semantics(spark):
    assert _survivors(spark) == {
        "src/app.py",
        "keep.log",
        "src/keep.log",
        "src/rooted.txt",
        "docsx/x.tmp",
        "cache-12",
    }


def test_rules_are_per_repo(spark):
    files = spark.createDataFrame(
        [("r1", "a.log", "x" * 60), ("r2", "a.log", "x" * 60)],
        "repo string, path string, content string",
    )
    patterns = gitignore_table(spark, [("r1", "*.log\n")])
    got = {(r.repo, r.path) for r in apply_gitignore(files, patterns).collect()}
    assert got == {("r2", "a.log")}  # r2 has no rules → untouched


def test_comments_and_blanks_dropped(spark):
    patterns = gitignore_table(spark, [("r1", "# only a comment\n\n   \n")])
    assert compile_gitignore(patterns).count() == 0
