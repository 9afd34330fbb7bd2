"""Graph analytics over the canonical edge table (beyond the reference:
the KG pipeline's output becomes an analyzable graph).

* :func:`degree_stats` — in/out degree per node, one aggregation each.
* :func:`pagerank` — power iteration as pure DataFrame ops: rank
  contributions flow along edges (join on src), sum per dst, damp, add
  the dangling-mass correction.  Every iteration is one shuffle on dst
  plus one small aggregate; the plan is cut with ``materialize`` each
  round (iterative Catalyst plans otherwise grow without bound — same
  discipline as connected components).  Deterministic: no sampling, no
  floats from iteration order (sums commute up to fp rounding, which is
  why the test oracle is a numpy power iteration, not DuckDB).

Every operator reads the fixed edge columns ``(src, dst)``.

At 100 TB: ranks are (node, double) rows — orders of magnitude smaller
than the edge table; the edge table shuffles once per iteration on its
join key, which bucketing on src would eliminate entirely on a real
cluster (documented, not needed at sandbox scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sema_spark.plans.materialize import materialize


def degree_stats(edges: DataFrame) -> DataFrame:
    """(id, out_degree, in_degree) for every node appearing in edges."""
    out = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_degree"))
    inn = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_degree"))
    return (
        out.join(inn, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(id, rank) after ``iterations`` of damped power iteration.

    Parallel edges count once (the edge set is distinct-ed); dangling
    nodes redistribute their mass uniformly, so ranks sum to 1 every
    iteration (asserted in tests against a numpy reference)."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .transform(materialize)
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    links = e.join(outdeg, "src").transform(materialize)  # (src, dst, deg), reused every iter

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            links.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("flowed"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(outdeg.withColumnRenamed("src", "id"), "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
        )
        base = (1.0 - damping) / n
        ranks = (
            nodes.join(contribs.withColumnRenamed("dst", "id"), "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("flowed", F.lit(0.0)) + F.col("m") / n)
                ).alias("rank"),
            )
            # loop-internal: demands real truncation in every mode
            .transform(lambda d: materialize(d, truncate=True))
        )
    return ranks


def triangles(edges: DataFrame) -> DataFrame:
    """Enumerate every triangle ``(a < b < c)`` in the undirected simple
    graph induced by ``edges`` (direction, parallel edges, and self-loops
    are normalized away first).

    The classic two-join enumeration over the canonically-ordered edge
    list: e1=(a,b), e2=(b,c), e3=(a,c) with a<b<c enforced for free by
    the per-edge ``least/greatest`` ordering, so each triangle appears
    exactly once and no candidate is generated twice.

    Scale: two equi-join shuffles over the ordered edge list.  Ordering
    vertices lexicographically (rather than by degree) is the simple
    variant; on skewed 100 TB graphs the standard refinement is to order
    by (degree, id) so hub vertices sit on the small side of every join —
    that is a drop-in change of the ordering key, noted here and not
    needed at sandbox scale.  AQE handles the residual join skew.
    """
    # NO materialize cut here — measured both ways in r7: although e
    # feeds three join branches, its distinct ends in an Exchange and
    # the three branches' exchange subtrees are identical, so
    # ReuseExchange already computes the upstream (including the
    # word-pair explode) exactly once; an explicit cut (eager or lazy)
    # only added checkpoint overhead (2.6s -> 3.1s at sf1.0).
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    return (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
        .select("a", "b", "c")
    )


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
) -> DataFrame:
    """Min-distance BFS frontier: every node reachable from ``seeds``
    (a DataFrame with column ``node``) in at most ``k`` directed hops,
    as ``(node, dist)`` with the minimum distance.

    One equi-join + distinct per hop (the frontier is joined against the
    edge list, then deduplicated against everything seen).  ``k`` is a
    small constant for neighborhood queries, so the loop unrolls into a
    fixed plan; each round's frontier is materialized to stop Catalyst
    re-deriving prior hops (same discipline as pagerank).  At 100 TB the
    edge join shuffles on src each hop — bucketing the edge table on src
    amortizes that across hops and across queries.
    """
    # cut the caller's plan ONCE: edges/seeds may be whole pipelines
    # (q_kg_two_hop passes the KG extraction), and Catalyst shares no
    # common subtrees — without this every hop and the final union
    # re-derive the full upstream plan (same discipline as pagerank's
    # materialized links)
    edges = materialize(edges.select("src", "dst"))
    seen = materialize(
        seeds.select(F.col("node"), F.lit(0).cast("bigint").alias("dist"))
    )
    frontier = seen
    for hop in range(1, k + 1):
        nxt = (
            edges.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            # settled nodes leave the frontier: re-expanding a node
            # already reached at a smaller distance would re-join its
            # whole adjacency every remaining hop (hub graphs explode);
            # min-dist semantics are unchanged — first reach wins
            .join(seen.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("bigint"))
        )
        frontier = materialize(nxt, truncate=True)
        seen = seen.union(frontier)
    return seen.groupBy("node").agg(F.min("dist").alias("dist"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """Synchronous label-propagation communities over the undirected
    simple graph induced by ``edges``: every node starts labeled with its
    own id; each round, every node simultaneously adopts the most
    frequent label among its neighbors, breaking count ties by the
    lexicographically smallest label.  Runs exactly ``iterations``
    rounds — the fixed-round synchronous variant is fully deterministic
    (classic LPA's convergence-order nondeterminism is exactly what a
    value-exact oracle cannot tolerate; bounded rounds also cap the
    iterative plan at scale, where LPA is typically run 5-10 rounds).
    Returns ``(id, label)`` for every node with at least one neighbor.

    Per round: one equi-join shuffling the symmetric edge list on its
    join key, one (node, label) count aggregate, one per-node window to
    apply the (count desc, label asc) tie-break — all on slim key
    columns, never the payload.  The edge list is materialized once and
    reused; labels are materialized per round so Catalyst's plan stays
    flat (pagerank / k_core discipline).  At 100 TB the per-round edge
    shuffle is the cost; bucketing the symmetrized edge table on src
    amortizes it across rounds, as with pagerank (documented, not needed
    at sandbox scale).
    """
    sym = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = materialize(
        sym.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            sym.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
    )
    labels = sym.select(F.col("u").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for _ in range(iterations):
        counts = (
            sym.join(labels.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("label"))
        labels = materialize(
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", "label"),
            truncate=True,
        )
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 100,
) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every vertex has
    undirected degree >= k), as a one-column ``(id)`` DataFrame.

    Iterative peeling: each round computes degrees, drops vertices below
    ``k`` AND every edge touching them, and stops when no vertex was
    dropped.  The round count is bounded by the graph's degeneracy-peel
    depth, not the vertex count — small in practice (sparse graphs peel
    in a handful of rounds).  Per round: one degree aggregation + two
    slim anti-joins on vertex ids; the shrinking edge list is
    materialized so Catalyst's plan doesn't grow with rounds (pagerank /
    connected-components discipline).  The convergence check is one
    driver-side count of the dropped set — the standard iterative-
    algorithm pattern, not a data collect.
    """
    sym = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = materialize(sym.select("a", "b").union(sym.select(F.col("b"), F.col("a"))))
    converged = False
    for _ in range(max_rounds):
        # materialized: weak feeds an isEmpty probe plus TWO anti-joins,
        # and Catalyst would re-run the degree aggregation for each
        weak = materialize(
            sym.groupBy("a")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") < k)
            .select("a"),
            truncate=True,
        )
        if weak.isEmpty():
            converged = True
            break
        sym = materialize(
            sym.join(weak, "a", "left_anti")
            .join(weak.withColumnRenamed("a", "b"), "b", "left_anti")
            .select("a", "b"),
            truncate=True,
        )
    if not converged:
        # loop exhaustion must not masquerade as convergence: an
        # under-peeled edge set is a silently wrong k-core
        raise RuntimeError(
            f"k_core did not converge within {max_rounds} rounds; "
            "raise max_rounds (peel depth exceeds the bound)"
        )
    return sym.select(F.col("a").alias("id")).distinct()
