"""The materialization primitive must be a pure runtime switch: the KG
pipeline produces the SAME graph under every mode (local checkpoint,
reliable checkpoint, recomputable persist)."""

import pytest

from sema_spark.corpus import corpus_df, expected_edges
from sema_spark.plans.materialize import materialize_mode


@pytest.mark.parametrize("mode", ["reliable", "persist"])
def test_pipeline_identical_in_every_mode(spark, tmp_path, mode, monkeypatch):
    # 'local' is the default exercised by the whole rest of the suite;
    # here the cluster-resilient modes must produce the identical graph.
    from sema_spark.operators.canonicalize import canonical_edges, canonicalize_nodes
    from sema_spark.operators.linking import build_nodes, link_triples
    from sema_spark.operators.mentions import extract_triples

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
    if mode == "reliable":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    assert materialize_mode() == mode
    triples = extract_triples(corpus_df(spark, "xs"))
    linked = link_triples(triples)
    nodes = canonicalize_nodes(build_nodes(triples))
    got = {
        (r.src, r.pred, r.dst)
        for r in canonical_edges(linked, nodes).select("src", "pred", "dst").collect()
    }
    assert got == expected_edges("xs")


def test_mode_validation(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "nope")
    with pytest.raises(ValueError):
        materialize_mode()
