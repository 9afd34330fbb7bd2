import hashlib

from sema_spark.corpus import corpus_df, generate_corpus
from sema_spark.operators.mentions import extract_triples, with_content_sha


def _triple_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def test_sql_extraction_exact_pr(spark):
    """P/R == 1.0 on the construction-time oracle at fixture scale."""
    _, expected = generate_corpus("xs")
    got = _triple_set(extract_triples(corpus_df(spark, "xs")))
    missing = expected - got
    extra = got - expected
    assert not missing, f"recall misses ({len(missing)}): {sorted(missing)[:5]}"
    assert not extra, f"precision misses ({len(extra)}): {sorted(extra)[:5]}"


def test_sha_invariant(spark):
    """content_sha == sha256(content) for every surviving input row."""
    rows, _ = generate_corpus("xs")
    by_key = {(r.repo, r.path): hashlib.sha256(r.content.encode()).hexdigest() for r in rows}
    out = extract_triples(corpus_df(spark, "xs")).select("repo", "path", "content_sha").distinct().collect()
    assert out
    for r in out:
        assert r.content_sha == by_key[(r.repo, r.path)]


def test_min_content_guard(spark):
    """Files under 50 chars emit no triples even if patterns would match
    (reference MIN_CHUNK_SIZE semantics, src/storage/processor.rs:8)."""
    triples = extract_triples(corpus_df(spark, "xs"))
    assert triples.filter("path = 'src/tiny.py'").count() == 0


def test_line_provenance(spark):
    sdf = with_content_sha(corpus_df(spark, "xs"))
    one = sdf.filter("repo = 'org0/proj0' and path = 'src/m1.py'").collect()[0]
    got = {
        (r.obj, r.line)
        for r in extract_triples(sdf, dedup=True)
        .filter("repo = 'org0/proj0' and path = 'src/m1.py' and pred = 'imports'")
        .collect()
    }
    lines = one.content.split("\n")
    for obj, line in got:
        assert f"import {obj}" in lines[line - 1] or f"from {obj} import" in lines[line - 1]


def test_no_python_udf_in_default_plan(spark):
    """The default stage-1 plan must stay JVM-side end to end."""
    plan = extract_triples(corpus_df(spark, "xs"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan and "FlatMapsInPandas" not in plan
