import pytest
from pyspark.sql import functions as F

from sema_spark.corpus import corpus_df
from sema_spark.operators.linking import build_alias_dict, build_nodes, link_triples
from sema_spark.operators.mentions import extract_triples


@pytest.fixture(scope="module")
def linked(spark):
    triples = extract_triples(corpus_df(spark, "xs")).persist()
    out = link_triples(triples).persist()
    yield out
    out.unpersist()
    triples.unpersist()


def test_exact_alias_resolution(spark, linked):
    """Every intra-repo call/import resolves by alias to the right target."""
    r = linked.filter(
        "repo='org0/proj0' and path='src/m0.py' and pred='imports' and obj='m1'"
    ).collect()
    assert len(r) == 1 and r[0].obj_id == "org0/proj0/src/m1.py"
    assert r[0].link_method == "alias"
    c = linked.filter(
        "repo='org0/proj0' and path='src/m0.py' and pred='calls' and obj='f1_0'"
    ).collect()
    assert len(c) == 1 and c[0].obj_id == "org0/proj0/src/m1.py#f1_0"


def test_repo_scoping(spark, linked):
    """f1_0 exists in every repo — resolution must stay within repo."""
    rows = linked.filter("pred='calls' and link_method='alias'").collect()
    assert rows
    for r in rows:
        assert r.obj_id.startswith(r.repo + "/")


def test_external_unresolved(spark, linked):
    r = linked.filter("pred='imports' and obj='os'").select("obj_id", "link_method").distinct().collect()
    assert len(r) == 1 and r[0].obj_id == "ext:os" and r[0].link_method == "unresolved"


def test_full_resolution_rate(spark, linked):
    """All intra-repo symbols resolve; only stdlib 'os' stays external."""
    ext = linked.filter("link_method = 'unresolved'").select("obj").distinct().collect()
    assert {r.obj for r in ext} == {"os"}


def test_passthrough_preds(spark, linked):
    d = linked.filter("pred in ('defines','contains')")
    assert d.count() > 0
    assert d.filter("obj_id != obj or link_method != 'exact'").count() == 0


def test_fuzzy_cosine_link(spark):
    """Case/style variant of a defined symbol links via LSH+cosine."""
    triples = extract_triples(corpus_df(spark, "xs"))
    nodes = build_nodes(triples)
    fuzzy_mention = spark.createDataFrame(
        [
            (
                "org0/proj0/src/m9.py",
                "calls",
                "ComputeTotalSum",  # defined symbol will be compute_total_sum
                "org0/proj0",
                "src/m9.py",
                "c" * 40,
                7,
                "s" * 64,
            )
        ],
        "subj string, pred string, obj string, repo string, path string, commit string, line long, content_sha string",
    )
    extra_node = spark.createDataFrame(
        [
            (
                "org0/proj0/src/util.py#compute_total_sum",
                "symbol",
                "org0/proj0",
                "src/util.py",
                "compute_total_sum",
                "t" * 64,
            )
        ],
        "entity_id string, kind string, repo string, path string, symbol string, content_sha string",
    )
    out = link_triples(fuzzy_mention, nodes.unionByName(extra_node))
    r = out.collect()[0]
    assert r.link_method == "cosine"
    assert r.obj_id == "org0/proj0/src/util.py#compute_total_sum"
    assert r.link_score > 0.55


def test_alias_dict_shape(spark):
    triples = extract_triples(corpus_df(spark, "xs"))
    alias = build_alias_dict(build_nodes(triples))
    row = alias.filter("repo='org0/proj0' and alias='m3'").collect()
    assert any(r.entity_id == "org0/proj0/src/m3.py" for r in row)
    assert alias.filter("alias = ''").count() == 0
