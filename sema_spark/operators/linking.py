"""Stage 2 — entity linking.

Resolves raw symbol objects (``calls``/``imports`` targets emitted by
stage 1) to entity ids.  Generalizes the reference's two lookup paths:

* the path→hash point lookup (/root/reference/src/storage/lance_indexer.rs:165-189)
  becomes a **broadcast alias-dictionary equi-join** (SURVEY J3);
* the embedding nearest-neighbor search
  (/root/reference/src/storage/lance_indexer.rs:107-141) becomes
  **MinHash-LSH blocking + cosine re-rank top-1** (SURVEY J2/W4) for
  symbols with no exact alias match.

Resolution is repo-scoped: the join key is ``(repo, alias)`` so on a
cluster both sides co-partition by repo and a monorepo's hot key is
handled by AQE skew-join.  The alias join carries no broadcast hint:
AQE decides at runtime from the dictionary's actual size
(autoBroadcastJoinThreshold) — a forced hint would OOM executors at
10^12-file scale where the symbol table alone is TBs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sema_spark.functions.encoder import encode_text
from sema_spark.functions.minhash import explode_bands, with_minhash
from sema_spark.functions.vector import cosine_fold_arrow
from sema_spark.plans.materialize import materialize

LINK_PREDS = ("calls", "imports")
COSINE_THRESHOLD = 0.55


def build_nodes(triples: DataFrame) -> DataFrame:
    """Entity nodes from stage-1 triples: file nodes + defined symbols."""
    files = (
        triples.select("repo", "path", "content_sha")
        .distinct()
        .select(
            F.concat_ws("/", "repo", "path").alias("entity_id"),
            F.lit("file").alias("kind"),
            "repo",
            "path",
            F.lit(None).cast("string").alias("symbol"),
            "content_sha",
        )
    )
    sym_objs = triples.filter(F.col("pred").isin("defines", "contains")).select(
        F.col("obj").alias("entity_id"), "repo", "path", "content_sha"
    )
    cls_subjs = triples.filter(
        (F.col("pred") == "contains") & F.col("subj").contains("#")
    ).select(F.col("subj").alias("entity_id"), "repo", "path", "content_sha")
    symbols = (
        sym_objs.union(cls_subjs)
        .distinct()
        .select(
            "entity_id",
            F.lit("symbol").alias("kind"),
            "repo",
            "path",
            F.element_at(F.split("entity_id", "#"), -1).alias("symbol"),
            "content_sha",
        )
    )
    return files.unionByName(symbols)


def build_alias_dict(nodes: DataFrame) -> DataFrame:
    """(repo, alias, entity_id, kind): symbol name for symbol entities,
    module stem for file entities (`src/m3.py` → `m3`)."""
    sym = nodes.filter(F.col("kind") == "symbol").select(
        "repo", F.col("symbol").alias("alias"), "entity_id", "kind"
    )
    mod = nodes.filter(F.col("kind") == "file").select(
        "repo",
        F.regexp_extract("path", r"([^/]+)\.\w+$", 1).alias("alias"),
        "entity_id",
        "kind",
    )
    return sym.union(mod).filter(F.col("alias") != "")


def _pick_best_alias(joined: DataFrame, id_cols: list[str]) -> DataFrame:
    """Deterministic tie-break when one alias maps to several entities:
    prefer kind matching the predicate (imports→file, calls→symbol),
    then lexicographic min entity id."""
    pref = F.when(
        (F.col("pred") == "imports") & (F.col("cand_kind") == "file"), 0
    ).when((F.col("pred") == "calls") & (F.col("cand_kind") == "symbol"), 0).otherwise(1)
    w = Window.partitionBy(*id_cols).orderBy(pref, F.col("cand_id"))
    return joined.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def link_triples(
    triples: DataFrame,
    nodes: DataFrame | None = None,
    fuzzy: bool = True,
    cosine_threshold: float = COSINE_THRESHOLD,
) -> DataFrame:
    """TRIPLES → LINKED_TRIPLES (adds obj_id, link_method, link_score)."""
    nodes = nodes if nodes is not None else build_nodes(triples)
    # localCheckpoint the branch-shared intermediates: the linked output
    # unions 4 branches that each reference alias/joined/unresolved, and
    # Catalyst does NOT share common subtrees across a DAG — without
    # materialization the alias join recomputes ~10x (measured: stage 2
    # ran 12+ min on 1.7M triples vs ~40s with checkpoints)
    # alias-side columns get DISTINCT names (a_repo/a_alias): both sides
    # descend from the same `triples` attributes and localCheckpoint
    # preserves exprIds, so a raw["repo"] == alias["repo"] condition is a
    # trivially-true self-compare that Spark (rightly) rejects as an
    # ambiguous self-join
    alias = build_alias_dict(nodes).select(
        F.col("repo").alias("a_repo"),
        F.col("alias").alias("a_alias"),
        F.col("entity_id").alias("cand_id"),
        F.col("kind").alias("cand_kind"),
    ).transform(materialize)

    passthrough = triples.filter(~F.col("pred").isin(*LINK_PREDS)).select(
        "*",
        F.col("obj").alias("obj_id"),
        F.lit("exact").alias("link_method"),
        F.lit(1.0).alias("link_score"),
    )
    raw = triples.filter(F.col("pred").isin(*LINK_PREDS))

    key_cols = ["subj", "pred", "obj", "repo", "path", "commit", "line", "content_sha"]
    joined = raw.join(
        alias,
        on=[F.col("repo") == F.col("a_repo"), F.col("obj") == F.col("a_alias")],
        how="left",
    ).select(*[raw[c] for c in key_cols], "cand_id", "cand_kind").transform(materialize)
    resolved = _pick_best_alias(joined.filter(F.col("cand_id").isNotNull()), key_cols).select(
        *key_cols,
        F.col("cand_id").alias("obj_id"),
        F.lit("alias").alias("link_method"),
        F.lit(1.0).alias("link_score"),
    )
    unresolved = joined.filter(F.col("cand_id").isNull()).select(*key_cols).distinct()

    if fuzzy:
        fuzzy_links = _fuzzy_link(unresolved, alias, cosine_threshold).transform(materialize)
        unresolved = unresolved.join(
            fuzzy_links.select("repo", "obj", F.lit(1).alias("_hit")), on=["repo", "obj"], how="left_anti"
        )
        fuzzy_resolved = (
            triples.filter(F.col("pred").isin(*LINK_PREDS))
            .join(fuzzy_links, on=["repo", "obj"], how="inner")
            .select(
                *key_cols,
                "obj_id",
                F.lit("cosine").alias("link_method"),
                F.col("score").alias("link_score"),
            )
        )
    else:
        fuzzy_resolved = None

    external = unresolved.select(
        *key_cols,
        F.concat(F.lit("ext:"), F.col("obj")).alias("obj_id"),
        F.lit("unresolved").alias("link_method"),
        F.lit(None).cast("double").alias("link_score"),
    )
    out = passthrough.unionByName(resolved).unionByName(external)
    if fuzzy_resolved is not None:
        out = out.unionByName(fuzzy_resolved)
    return out


def _norm_expr(col):
    return F.regexp_replace(F.lower(col), "[_\\-]", "")


def _block_expr(col):
    """The (repo, 2-char normalized prefix) alias-block key — the unit
    of the incremental-maintenance dependency analysis.  MUST stay the
    exact expression _fuzzy_link blocks candidates by."""
    return F.substring(_norm_expr(col), 1, 2)


def changed_alias_blocks(
    new_changed_triples: DataFrame, old_changed_triples: DataFrame
) -> DataFrame:
    """(repo, _p) alias blocks whose candidate membership differs
    between the old and new versions of the CHANGED files only — alias
    rows are file-local (entity ids embed their (repo, path)), so
    unchanged files contribute identical rows to both sides and never
    need scanning.  The pipeline's stage-2 delta maintenance
    (plans/pipeline._run_linked_stage) re-links the changed files plus
    every file with a link triple in one of these blocks: a resolution's full dependency
    footprint (exact key, tier-1 normalized key, tier-2 block) lies
    inside its obj's own block, so an unchanged block ⇒ an unchanged
    resolution."""

    def aliases_of(t: DataFrame) -> DataFrame:
        return build_alias_dict(build_nodes(t)).select("repo", "alias", "entity_id", "kind")

    a_new, a_old = aliases_of(new_changed_triples), aliases_of(old_changed_triples)
    delta = a_new.subtract(a_old).unionByName(a_old.subtract(a_new))
    return (
        delta.select("repo", _block_expr(F.col("alias")).alias("_p"))
        .distinct()
        .transform(materialize)
    )


def _fuzzy_link(unresolved: DataFrame, alias: DataFrame, threshold: float) -> DataFrame:
    """Tiered fuzzy resolution (SURVEY J2).

    Tier 1 — normalized-identifier exact join (case/separator variants:
    ``computeTotal ≡ compute_total``): an equi-join, catches the common
    case for free.
    Tier 2 — MinHash-LSH blocking + hashing-encoder cosine re-rank for
    the rest, with the candidate side **pre-blocked to (repo, 2-char
    normalized prefix) groups that actually contain a query**: sketching
    the full alias dictionary would dominate the whole stage (measured:
    the dictionary is ~|corpus symbols| while unresolved queries are a
    handful), and prefix-semi-join shrinks it to the blocks in play.

    Band pairs additionally require the QUERY'S OWN block (the r6
    incremental-linking contract): a query's resolution is a pure
    function of (query, its (repo, prefix) alias block), independent of
    what other queries exist.  Without the block equality, a band-hash
    collision could pair a query with a candidate from another block
    that is only present because some OTHER query pulled it in — making
    results query-set-dependent, which would break the stage-2 delta's
    affected-set reasoning (:func:`changed_alias_blocks`; and is
    surprising behavior on its own).  Cross-block near-duplicates whose
    first two normalized chars differ fall back to ``ext:`` — the same
    recall trade every prefix-blocked LSH makes.

    Operates on the *distinct* (repo, raw symbol) set, not per-triple.
    Returns (repo, obj, obj_id, score): best candidate per raw symbol
    with score ≥ threshold (tier-1 hits score 1.0).
    """
    # _norm_expr / the 2-char prefix are SHARED with
    # changed_alias_blocks (via _block_expr): the stage-2 delta's
    # affected-set reasoning is only sound if both sides compute the
    # identical block key
    norm = _norm_expr

    q0 = (
        unresolved.select("repo", "obj").distinct().withColumn("_n", norm(F.col("obj")))
        .transform(materialize)
    )
    a0 = (
        alias.select(
            F.col("a_repo").alias("repo"), F.col("a_alias").alias("alias"), "cand_id"
        )
        .distinct()
        .withColumn("_n", norm(F.col("alias")))
        .transform(materialize)
    )

    # tier 1: normalized exact
    w1 = Window.partitionBy("repo", "obj").orderBy(F.col("cand_id"))
    exact = (
        q0.join(a0, on=["repo", "_n"], how="inner")
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") == 1)
        .select("repo", "obj", F.col("cand_id").alias("obj_id"), F.lit(1.0).alias("score"))
        .transform(materialize)  # q_rest + the final union both re-reference this
    )
    q_rest = q0.join(exact.select("repo", "obj"), on=["repo", "obj"], how="left_anti").transform(materialize)

    # tier 2: LSH + cosine, candidates pre-blocked by query prefixes.
    # a_blocked joins a0 against a q0/a0-derived subtree — without the
    # checkpoints above Spark flags an ambiguous self-join here.
    prefix = lambda c: F.substring(c, 1, 2)
    q_blocks = q_rest.select("repo", prefix(F.col("_n")).alias("_p")).distinct()
    a_blocked = a0.withColumn("_p", prefix(F.col("_n"))).join(
        q_blocks, on=["repo", "_p"], how="left_semi"
    ).transform(materialize)
    # SLIM banding (same discipline as dedup): the exploded band rows
    # carry only ids — threading the 384-float embeddings through the
    # band join would shuffle 16 copies of each vector and run
    # distinct() over array rows; embeddings rejoin after pair dedup
    qs = q_rest.withColumn("_p", prefix(F.col("_n"))).transform(
        lambda d: with_minhash(d, text_col="_n", shingle_words=False)
    )
    cands = a_blocked.transform(lambda d: with_minhash(d, text_col="_n", shingle_words=False))
    q_bands = explode_bands(qs, ["repo", "_p", "obj"])
    c_bands = explode_bands(cands, ["repo", "_p", "alias", "cand_id"])
    cand_pairs = (
        q_bands.join(c_bands, on=["repo", "_p", "band", "bh"], how="inner")
        .select("repo", "obj", "alias", "cand_id")
        .distinct()
    )
    q_embs = q_rest.select("repo", "obj", encode_text(F.col("_n")).alias("q_emb"))
    c_embs = a_blocked.select("repo", "alias", encode_text(F.col("_n")).alias("c_emb")).dropDuplicates(
        ["repo", "alias"]
    )
    pairs = (
        cand_pairs.join(q_embs, ["repo", "obj"])
        .join(c_embs, ["repo", "alias"])
        .withColumn("score", cosine_fold_arrow(F.col("q_emb"), F.col("c_emb")))
        .filter(F.col("score") >= threshold)
    )
    w = Window.partitionBy("repo", "obj").orderBy(F.desc("score"), F.col("cand_id"))
    lsh = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("repo", "obj", F.col("cand_id").alias("obj_id"), "score")
    )
    return exact.unionByName(lsh)
