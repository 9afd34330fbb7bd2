"""Stage 3 — canonicalization via connected components.

Generalizes the reference's exact-hash identity dedup
(/root/reference/src/storage/mod.rs:40-47, group-by-file dedup
/root/reference/src/tui/engine.rs:156-174) to equivalence-class merging
(north_star stage 3): entities are equivalent when they share a merge
key — ``content_sha`` for file entities, ``content_sha#normalized(symbol)``
for symbol entities — and transitively closed into components.

:func:`connected_components` is the one CC operator, over ids of any
one orderable type (component = min id), in two tiers.  Graphs within
the driver budget are solved on the driver by vectorized numpy
min-label propagation.  Larger ones run distributed label propagation
with **pointer jumping**: each iteration does (1) a 1-hop
min-propagation over edges and (2) a path-halving step
comp(v) ← comp(comp(v)), giving O(log diameter) iterations instead of
O(diameter) — a 25-node chain converges in ~5 rounds, not 25.  Every
iteration ends in an eager ``localCheckpoint`` to cut the lineage chain
(iterative Catalyst plans otherwise grow without bound), and
convergence is detected by a bit_xor fingerprint of the assignment
(one cheap agg on checkpointed data, no extra join).  A GraphFrames
``connectedComponents`` drop-in is noted for clusters that ship it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from sema_spark.plans.materialize import materialize


def _contract(e: DataFrame, rounds: int = 2):
    """Min-label contraction: label every node min(self, min neighbor),
    rewrite edges in the quotient graph.  Dense components (near-cliques
    from dedup candidate pairs) collapse to almost nothing in one round —
    measured 2.09M edges / 4.4k nodes: CC went 57s → seconds.  Returns
    (contracted edges, list of (id → label) mapping DataFrames)."""
    mappings = []
    for _ in range(rounds):
        lab = (
            e.groupBy("x")
            .agg(F.min("y").alias("mn"))
            .select("x", F.least(F.col("x"), F.col("mn")).alias("l"))
            .transform(lambda d: materialize(d, truncate=True))
        )
        mappings.append(lab)
        la = lab.select(F.col("x").alias("_xa"), F.col("l").alias("_la"))
        lb = lab.select(F.col("x").alias("_xb"), F.col("l").alias("_lb"))
        e = (
            e.join(la, e["x"] == F.col("_xa"))
            .join(lb, e["y"] == F.col("_xb"))
            .select(F.col("_la").alias("x"), F.col("_lb").alias("y"))
            .filter(F.col("x") != F.col("y"))
        )
        e = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y"))).distinct().transform(
            lambda d: materialize(d, truncate=True)
        )
    return e, mappings


def driver_cc_budget(spark) -> int:
    """Edge count of string ids the driver CC tier may pull, scaled
    from spark.driver.memory instead of a fixed constant: the Arrow
    frame + object arrays cost ~0.5 KB/edge of string ids, and the budget
    must never eat more than ~1/4 of the heap (the rest is the driver's
    normal working set).  Bounds: [100k, 64M]."""
    import re

    try:
        mem = spark.conf.get("spark.driver.memory")
    except Exception:
        mem = "2g"
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", str(mem).lower().strip())
    # a bare number means MiB for spark.driver.memory (JVM memory confs
    # parse via byteStringAsMb), not bytes
    mult = {"": 2**20, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    nbytes = int(m.group(1)) * mult[m.group(2)] if m else 2**31
    return max(100_000, min(64_000_000, nbytes // 4 // 512))


def _driver_tier(spark, e: DataFrame) -> DataFrame:
    """Vectorized min-label propagation + pointer jumping on the driver
    — for edge sets that fit trivially in driver memory this beats the
    iterative-join path by ~10x wall clock (each distributed iteration
    costs scheduler round-trips regardless of data size).  Nodes are
    indexed into the ascending unique-id array, so label minimality IS
    id minimality under the type's own order and every node's fixpoint
    label is its component's min.  Each round is a few numpy passes over
    the edges; dense duplicate graphs converge in 2-3 rounds."""
    # Arrow transfer both ways — toLocalIterator's py4j row stream and
    # createDataFrame over tuples each measured seconds at 10^5-10^6 rows
    pdf = e.toPandas()
    a, b = pdf["a"].to_numpy(), pdf["b"].to_numpy()
    # sort=True orders strings by code point = Spark's binary string order
    codes, nodes = pd.factorize(np.concatenate([a, b]), sort=True)
    ea, eb = codes[: len(a)], codes[len(a) :]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        m = np.minimum(lab[ea], lab[eb])
        new = lab.copy()
        np.minimum.at(new, ea, m)
        np.minimum.at(new, eb, m)
        for _ in range(3):  # pointer jumping (path halving)
            new = np.minimum(new, new[new])
        if np.array_equal(new, lab):
            break
        lab = new
    t = e.schema["a"].dataType
    schema = T.StructType([T.StructField("id", t), T.StructField("component", t)])
    return spark.createDataFrame(pd.DataFrame({"id": nodes, "component": nodes[lab]}), schema)


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_max_edges: int | None = None
) -> DataFrame:
    """edges(a, b) → (id, component), ids of one orderable type (string,
    int or long) and the output of that same type.

    Component id = the min node id in the component under the type's
    order: numeric min for int/long ids, binary (code-point) min for
    strings — so numeric ids need no order-preserving string encoding.
    Every id appearing in a non-loop edge gets exactly one row.
    Two tiers: edge sets within the driver budget
    (:func:`driver_cc_budget`, ×16 for integral ids, whose Arrow
    columns are 8 B/id instead of ~0.5 KB of strings) solve by
    vectorized propagation on the driver; larger ones run min-label
    contraction + pointer-jumping label propagation.  Pass
    driver_max_edges=0 to force the distributed tier.
    """
    if driver_max_edges is None:
        driver_max_edges = driver_cc_budget(edges.sparkSession)
        if isinstance(edges.schema["a"].dataType, T.IntegralType):
            driver_max_edges *= 16
    if driver_max_edges:
        e_simple = edges.filter(F.col("a") != F.col("b")).persist()
        n_edges = e_simple.count()
        if n_edges <= driver_max_edges:
            out = _driver_tier(edges.sparkSession, e_simple)
            e_simple.unpersist()
            return out
        e_simple.unpersist()
    e0 = (
        edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(edges.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .filter(F.col("x") != F.col("y"))
        .distinct()
        .persist()
    )
    e, mappings = _contract(e0)
    comp = (
        e.select(F.col("x").alias("id"))
        .union(e.select(F.col("y").alias("id")))
        .distinct()
        .withColumn("component", F.col("id"))
        .transform(materialize)
    )

    def fingerprint(c: DataFrame) -> int:
        row = c.select(F.bit_xor(F.xxhash64("id", "component")).alias("f")).collect()[0]
        return row.f if row.f is not None else 0

    fp = fingerprint(comp)
    for _ in range(max_iter):
        # (1) 1-hop min propagation: each node offers its label to neighbors
        msgs = (
            e.join(comp, e["x"] == comp["id"], "inner")
            .select(F.col("y").alias("id"), F.col("component"))
        )
        hop = (
            comp.select("id", "component")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # (2) pointer jumping: follow the label's own label (path halving)
        parent = hop.select(F.col("id").alias("pid"), F.col("component").alias("pcomp"))
        new_comp = (
            hop.join(parent, hop["component"] == parent["pid"], "left")
            .select("id", F.coalesce(F.least("pcomp", "component"), F.col("component")).alias("component"))
            .transform(lambda d: materialize(d, truncate=True))
        )
        new_fp = fingerprint(new_comp)
        comp = new_comp
        if new_fp == fp:
            break
        fp = new_fp
    # compose back through the contraction chain: comp(v) = comp(l_k(…l_1(v)))
    # — labels are themselves component members, so min-composition is exact
    out = comp
    for lab in reversed(mappings):
        c = out.select(F.col("id").alias("_cid"), F.col("component").alias("_comp"))
        out = (
            lab.join(c, lab["l"] == F.col("_cid"), "left")
            .select(
                F.col("x").alias("id"),
                F.coalesce(F.col("_comp"), F.col("l")).alias("component"),
            )
        )
    e0.unpersist()
    return out


def _normalize_symbol(col):
    return F.lower(F.regexp_replace(col, "_", ""))


def merge_key(nodes: DataFrame) -> DataFrame:
    """One merge key per node (north_star: normalized FQN + content sha)."""
    key = F.when(
        F.col("kind") == "symbol",
        F.concat_ws("#", F.col("content_sha"), _normalize_symbol(F.col("symbol"))),
    ).otherwise(F.col("content_sha"))
    return nodes.withColumn("merge_key", key)


def canonicalize_nodes(nodes: DataFrame) -> DataFrame:
    """NODES(-canonical_id) → NODES with canonical_id.

    canonical id = min entity id per merge-key group, computed as ONE
    aggregation + one join.  No connected-components pass: merge_key is
    a pure function of the node, so no entity can belong to two key
    groups and the equivalence classes ARE the groups — running CC over
    the star edges (as an earlier version did) provably recomputed the
    hub it already had, at the cost of a full CC invocation per stage-3
    run.  :func:`connected_components` remains the tool for genuinely
    transitive merges (dedup duplicate graphs, J4) and is the drop-in
    here if nodes ever carry MULTIPLE merge keys.  Entities with a NULL
    merge key (kind='external' / no sha) canonicalize to themselves —
    the null join key matches nothing, exactly as the old star edges
    dropped null keys.
    """
    keyed = merge_key(nodes)
    hubs = keyed.groupBy("merge_key").agg(F.min("entity_id").alias("hub"))
    out = keyed.join(hubs, "merge_key", "left").select(
        keyed["entity_id"],
        F.coalesce(F.col("hub"), keyed["entity_id"]).alias("canonical_id"),
        "kind",
        keyed["repo"],
        keyed["path"],
        "symbol",
        "content_sha",
    )
    return out


def canonical_edges(linked_triples: DataFrame, canonical_nodes: DataFrame) -> DataFrame:
    """Rewrite linked triples onto canonical ids → EDGES."""
    cmap = canonical_nodes.select("entity_id", "canonical_id")
    src_map = cmap.withColumnRenamed("entity_id", "subj").withColumnRenamed(
        "canonical_id", "src_canon"
    )
    dst_map = cmap.withColumnRenamed("entity_id", "obj_id").withColumnRenamed(
        "canonical_id", "dst_canon"
    )
    return (
        linked_triples.join(src_map, "subj", "left")
        .join(dst_map, "obj_id", "left")
        .select(
            F.coalesce("src_canon", "subj").alias("src"),
            "pred",
            F.coalesce("dst_canon", "obj_id").alias("dst"),
            "repo",
            "path",
            "line",
            # per-row sha invariant; also the per-file supersede key the
            # log-structured stage-4 storage needs (distinct stays
            # file-local: (repo, path) determines content_sha)
            "content_sha",
        )
        .distinct()
    )
