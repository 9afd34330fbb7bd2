import pytest
from pyspark.sql import functions as F

from sema_spark.corpus import corpus_df, generate_corpus
from sema_spark.operators.chunker import chunk_and_embed
from sema_spark.plans import pipeline as P


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("kg"))
    src = corpus_df(spark, "xs")
    run = P.run_pipeline(spark, src, base)
    return base, src, run


def test_all_stages_ran(spark, kg):
    base, _, run = kg
    assert not run.triples.skipped and run.triples.output_rows > 0
    assert not run.linked.skipped and not run.nodes.skipped and not run.edges.skipped


def test_e2e_triple_parity(spark, kg):
    base, _, _ = kg
    _, expected = generate_corpus("xs")
    got = {
        (r.subj, r.pred, r.obj)
        for r in P.read_triples(spark, base).select("subj", "pred", "obj").collect()
    }
    tp = len(got & expected)
    precision = tp / len(got)
    recall = tp / len(expected)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_e2e_edges_match_independent_oracle(spark, kg):
    """Stages 2+3 vs corpus.expected_edges — an independent pure-Python
    implementation of linking + canonicalization.  EXACT set equality,
    not P/R: the two implementations check each other edge-for-edge."""
    from sema_spark.corpus import expected_edges

    base, _, _ = kg
    got = {
        (r.src, r.pred, r.dst)
        for r in P.read_edges(spark, base).select("src", "pred", "dst").collect()
    }
    assert got == expected_edges("xs")


def test_rerun_skips_everything(spark, kg):
    base, src, _ = kg
    run2 = P.run_pipeline(spark, src, base)
    assert not run2.any_work


# Spark jobs of an unchanged pass over the xs corpus in `local` mode:
# 30 before the one-action commit tail and the shared key diff, 20 after
UNCHANGED_PASS_JOB_BUDGET = 20


def test_unchanged_pass_job_budget(spark, kg):
    """An unchanged re-run is a handful of skip checks; every extra Spark
    job is fixed per-action cost (the D1 job diet).  Runs right after
    the cold build of the module fixture, before any test mutates it."""
    from sema_spark.plans.materialize import set_materialize_mode

    base, src, _ = kg
    sc = spark.sparkContext
    set_materialize_mode("local")
    sc.setJobGroup("unchanged-pass-budget", "unchanged pass")
    try:
        run = P.run_pipeline(spark, src, base)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        set_materialize_mode(None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("unchanged-pass-budget"))
    assert not run.any_work
    assert jobs <= UNCHANGED_PASS_JOB_BUDGET, jobs


def test_semantic_search_short_query_is_local_empty(spark):
    """The short-query guard answers an empty frame built on the driver
    (a LocalTableScan, no Python worker) with the result schema."""
    chunks = chunk_and_embed(corpus_df(spark, "xs").limit(2))
    res = P.semantic_search(spark, chunks, "ab")
    assert res.columns == chunks.columns + ["score", "matches_in_file"]
    assert "LocalTableScan" in res._jdf.queryExecution().executedPlan().toString()
    assert res.count() == 0


def test_graph_referential_integrity(spark, kg):
    base, _, _ = kg
    nodes = P.read_nodes(spark, base)
    edges = P.read_edges(spark, base)
    canon = nodes.select(F.col("canonical_id").alias("id")).distinct()
    dangling_src = edges.join(canon, edges["src"] == canon["id"], "left_anti")
    assert dangling_src.count() == 0
    dangling_dst = (
        edges.filter(~F.col("dst").startswith("ext:"))
        .join(canon, edges["dst"] == canon["id"], "left_anti")
    )
    assert dangling_dst.count() == 0


def test_incremental_change_propagates(spark, kg):
    base, src, _ = kg
    mutated = src.withColumn(
        "content",
        F.when(
            (F.col("repo") == "org1/proj1") & (F.col("path") == "src/m2.js"),
            F.lit("// rewritten\nfunction brand_new_fn(x) {\n  const y = brand_new_fn(x);\n  return y;\n}\n"),
        ).otherwise(F.col("content")),
    )
    run = P.run_pipeline(spark, mutated, base)
    assert run.triples.input_files == 1
    assert not run.linked.skipped  # fingerprint changed → downstream recomputed
    edges = P.read_edges(spark, base)
    assert edges.filter("dst like '%brand_new_fn'").count() > 0
    # stale symbols of the old file are gone from current nodes
    nodes = P.read_nodes(spark, base)
    assert nodes.filter("repo='org1/proj1' and path='src/m2.js' and symbol like 'f2%'").count() == 0


def test_incremental_link_pipeline_equals_full(spark, tmp_path):
    """run_pipeline(incremental_link=True): first run takes the full
    path (no prior snapshot), the mutated second run takes the delta
    path, and the final graph must equal a from-scratch build of the
    same corpus (corpus.expected_edges).  Third run skips everything."""
    src = corpus_df(spark, "xs")
    base = str(tmp_path / "kg")
    # wave 1: everything except one file whose module others import
    part = src.filter(~((F.col("repo") == "org0/proj0") & (F.col("path") == "src/m1.py")))
    P.run_pipeline(spark, part, base, incremental_link=True)
    # wave 2: the full corpus — re-adds m1.py, flipping other files'
    # `imports m1` / `calls f1_*` from ext:/fuzzy back to alias links
    # in UNCHANGED files (the delta path's affected-block logic)
    run2 = P.run_pipeline(spark, src, base, incremental_link=True)
    assert run2.triples.input_files == 1 and not run2.linked.skipped
    # the delta branch actually engaged (a silently-failed fingerprint
    # check would fall back to full and this test would prove nothing)
    assert run2.link_mode == "delta"
    edges = {
        (r.src, r.pred, r.dst)
        for r in P.read_edges(spark, base).select("src", "pred", "dst").distinct().collect()
    }
    from sema_spark.corpus import expected_edges

    assert edges == expected_edges("xs")
    run3 = P.run_pipeline(spark, src, base, incremental_link=True)
    assert not run3.any_work


def test_linked_stage_write_volume_proportional_to_delta(spark, tmp_path):
    """The r6 log-structured stage 2: a small change must re-WRITE only
    the re-linked files' rows (one run_id partition per increment), not
    the whole linked table — the snapshot rewrite was the measured
    bottleneck of the incremental re-run at bench scale."""
    src = corpus_df(spark, "xs")
    base = str(tmp_path / "kg")
    r1 = P.run_pipeline(spark, src, base, incremental_link=True)
    total = P.read_linked(spark, base).count()

    mutated = src.withColumn(
        "content",
        F.when(
            (F.col("repo") == "org1/proj1") & (F.col("path") == "src/m2.js"),
            F.lit("// rewritten\nfunction tiny_delta_fn(x) {\n  const y = tiny_delta_fn(x);\n  return y;\n}\n"),
        ).otherwise(F.col("content")),
    )
    r2 = P.run_pipeline(spark, mutated, base, incremental_link=True)
    assert r2.link_mode == "delta"
    # the increment's physical partition holds only the delta's rows
    inc = spark.read.parquet(f"{base}/linked/data").filter(
        F.col("run_id") == r2.linked.run_id
    )
    assert inc.count() == r2.linked.output_rows
    assert 0 < r2.linked.output_rows < total / 2
    # and only files the delta names: the changed file + its repo's
    # affected alias blocks
    repos = {r.repo for r in inc.select("repo").distinct().collect()}
    assert repos == {"org1/proj1"}
    # the live view equals a from-scratch link of the mutated corpus
    from sema_spark.operators.linking import link_triples
    from sema_spark.operators.mentions import extract_triples

    live = P.read_linked(spark, base)
    full = link_triples(extract_triples(mutated))
    assert live.count() == full.count()
    assert live.exceptAll(full.select(*live.columns)).count() == 0


def test_linked_stage_delete_propagates(spark, tmp_path):
    """Tombstoned files vanish from the linked view and their alias
    targets in OTHER files re-link (delta mode).

    The same wave also changes src/m2.py (a new defined symbol) and
    adds src/os.py, which gives other files' previously-external
    `imports os` an alias target.  All three mutations flip resolutions
    in UNCHANGED files only through the alias-delta affected-block
    logic, so the delta result must equal a from-scratch link of the
    mutated corpus row for row."""
    from sema_spark.operators.linking import link_triples
    from sema_spark.operators.mentions import extract_triples
    from sema_spark.sources.checkpoint import delete_files

    src = corpus_df(spark, "xs")
    base = str(tmp_path / "kg")
    P.run_pipeline(spark, src, base, incremental_link=True)
    delete_files(
        spark, base, "triples",
        spark.createDataFrame([("org0/proj0", "src/m1.py")], "repo string, path string"),
    )
    in_m2 = (F.col("repo") == "org0/proj0") & (F.col("path") == "src/m2.py")
    os_py = spark.createDataFrame(
        [(
            "org0/proj0", "src/os.py", "718c5a1673b55515fa56ecfa1de3bb764314d117", "py",
            '"""os shim — gives `imports os` an alias target."""\n\n'
            "def path_join(a, b):\n    return a\n",
        )],
        src.schema,
    )
    shrunk = (
        src.filter(~((F.col("repo") == "org0/proj0") & (F.col("path") == "src/m1.py")))
        .withColumn(
            "content",
            F.when(
                in_m2, F.concat("content", F.lit("\n\ndef brand_new_sym_xyz(x):\n    return x\n"))
            ).otherwise(F.col("content")),
        )
        .unionByName(os_py)
    )
    r = P.run_pipeline(spark, shrunk, base, incremental_link=True)
    assert r.link_mode == "delta" and not r.linked.skipped
    live = P.read_linked(spark, base)
    assert live.filter("repo='org0/proj0' and path='src/m1.py'").count() == 0
    # unchanged files' imports of the deleted module no longer resolve to it
    m1_refs = live.filter("repo='org0/proj0' and pred='imports' and obj='m1'")
    assert m1_refs.count() > 0
    assert m1_refs.filter("obj_id = 'org0/proj0/src/m1.py'").count() == 0
    # unchanged files' `imports os` now resolve to the added file
    os_refs = live.filter("repo='org0/proj0' and pred='imports' and obj='os'")
    assert os_refs.filter("path != 'src/os.py'").count() > 0
    assert os_refs.filter("obj_id != 'org0/proj0/src/os.py'").count() == 0
    assert live.filter("path='src/m2.py' and obj like '%brand_new_sym_xyz'").count() > 0
    # the delta result equals a from-scratch link, row for row
    full = link_triples(extract_triples(shrunk)).select(*live.columns)
    assert live.count() == full.count()
    assert live.exceptAll(full).count() == 0
    assert full.exceptAll(live).count() == 0


def test_edges_stage_write_volume_and_canon_flip(spark, tmp_path):
    """Log-structured stage 4: a 1-file change rewrites only the
    affected files' edge rows; and a CANONICAL-ID flip caused by
    deleting one copy of duplicated content must refresh edges of
    OTHER untouched files via the canonical-map diff (the global
    effect of stage 3 re-entering the per-file world)."""
    from sema_spark.operators.canonicalize import canonical_edges, canonicalize_nodes
    from sema_spark.operators.linking import build_nodes, link_triples
    from sema_spark.operators.mentions import extract_triples
    from sema_spark.sources.checkpoint import delete_files

    src = corpus_df(spark, "xs")
    base = str(tmp_path / "kg")
    P.run_pipeline(spark, src, base, incremental_link=True)
    total = P.read_edges(spark, base).count()

    # leg 1: single content change — tiny refresh set
    mutated = src.withColumn(
        "content",
        F.when(
            (F.col("repo") == "org1/proj1") & (F.col("path") == "src/m2.js"),
            F.lit("// rewritten\nfunction tiny_delta_fn(x) {\n  const y = tiny_delta_fn(x);\n  return y;\n}\n"),
        ).otherwise(F.col("content")),
    )
    r = P.run_pipeline(spark, mutated, base, incremental_link=True)
    assert not r.edges.skipped
    inc = spark.read.parquet(f"{base}/edges/data").filter(F.col("run_id") == r.edges.run_id)
    assert inc.count() == r.edges.output_rows
    assert 0 < r.edges.output_rows < total / 2

    # leg 2: delete the canonical hub of the cross-repo duplicated file
    # (dup_shared.py is identical in proj0 and proj3 at xs; org0 holds
    # the lexicographic-min entity ids) — org3's copy is untouched but
    # its canonical ids flip to itself, so its edges must refresh
    delete_files(
        spark, base, "triples",
        spark.createDataFrame([("org0/proj0", "src/dup_shared.py")], "repo string, path string"),
    )
    shrunk = mutated.filter(
        ~((F.col("repo") == "org0/proj0") & (F.col("path") == "src/dup_shared.py"))
    )
    r2 = P.run_pipeline(spark, shrunk, base, incremental_link=True)
    assert not r2.edges.skipped
    inc2 = spark.read.parquet(f"{base}/edges/data").filter(F.col("run_id") == r2.edges.run_id)
    refreshed = {
        (x.repo, x.path) for x in inc2.select("repo", "path").distinct().collect()
    }
    assert ("org3/proj3", "src/dup_shared.py") in refreshed  # untouched file refreshed

    # live view equals a from-scratch build of the final corpus
    live = P.read_edges(spark, base).select("src", "pred", "dst").distinct()
    t = extract_triples(shrunk)
    full = (
        canonical_edges(link_triples(t), canonicalize_nodes(build_nodes(t)))
        .select("src", "pred", "dst")
        .distinct()
    )
    assert live.count() == full.count()
    assert live.exceptAll(full).count() == 0
    # no edge keeps the deleted hub as canonical id
    assert live.filter(F.col("src").startswith("org0/proj0/src/dup_shared")).count() == 0


def test_fuzzy_flip_forces_full_relink_and_params_survive_compact(spark, tmp_path):
    """The params row commits atomically with the increment: a fuzzy
    flip on an unchanged corpus must re-link (never skip-serve rows
    computed under the other setting), flipping back must re-link
    again, and compaction must preserve the params row so the next run
    still trusts the store."""
    from sema_spark.sources.checkpoint import compact, latest_params

    src = corpus_df(spark, "xs").filter("repo = 'org0/proj0'")
    base = str(tmp_path / "kg")
    P.run_pipeline(spark, src, base, fuzzy=True)
    assert latest_params(spark, base, "linked") == "fuzzy=True"

    r = P.run_pipeline(spark, src, base, fuzzy=False)
    assert not r.linked.skipped  # params mismatch → full re-link
    assert latest_params(spark, base, "linked") == "fuzzy=False"
    assert P.run_pipeline(spark, src, base, fuzzy=False).linked.skipped

    before = P.read_linked(spark, base).count()
    compact(spark, base, "linked")
    assert latest_params(spark, base, "linked") == "fuzzy=False"
    assert P.read_linked(spark, base).count() == before
    assert P.run_pipeline(spark, src, base, fuzzy=False).linked.skipped


def test_legacy_snapshot_base_reads_and_migrates(spark, tmp_path):
    """A pre-r6 base stores linked/edges as SNAPSHOTS.  There is no read
    fallback: the first pipeline run diffs the empty per-file log as
    all-changed and rebuilds both stages as per-file increments equal to
    a from-scratch build.  A post-migration compact must keep the LIVE
    increments, not revert to the stale legacy snapshot (data loss), and
    must merge the mixed-schema edges dir."""
    from sema_spark.operators.canonicalize import canonical_edges, canonicalize_nodes
    from sema_spark.operators.linking import build_nodes, link_triples
    from sema_spark.operators.mentions import extract_triples, salted_repartition, with_content_sha
    from sema_spark.schemas import LINKED_TRIPLES, NODES, TRIPLES
    from sema_spark.sources.checkpoint import (
        compact,
        input_fingerprint,
        read_snapshot,
        read_stage_output,
        run_incremental_stage,
        run_snapshot_stage,
    )

    src = corpus_df(spark, "xs").filter("repo = 'org0/proj0'")
    base = str(tmp_path / "kg")
    # build LEGACY-format stages 2-4 exactly as the pre-r6 code did
    run_incremental_stage(
        spark, with_content_sha(src), "triples", base,
        lambda p: extract_triples(salted_repartition(p, None)),
    )
    triples = read_stage_output(spark, base, "triples", schema=TRIPLES)
    fp = input_fingerprint(triples.select("repo", "path", "content_sha"))
    run_snapshot_stage(
        spark, fp, "linked", base, lambda: link_triples(triples, fuzzy=True),
        params="fuzzy=True",
    )
    legacy_rows = read_snapshot(spark, base, "linked", schema=LINKED_TRIPLES)
    run_snapshot_stage(
        spark, fp, "nodes", base, lambda: canonicalize_nodes(build_nodes(triples)),
        partition_cols=["kind"],
    )
    legacy_nodes = read_snapshot(spark, base, "nodes", schema=NODES)
    # pre-r6 edges had NO content_sha column, so the migrated data dir
    # will mix schemas — reads must stay deterministic
    run_snapshot_stage(
        spark, fp, "edges", base,
        lambda: canonical_edges(legacy_rows, legacy_nodes).drop("content_sha"),
        partition_cols=["pred"], params="legacy",
    )

    fresh = str(tmp_path / "fresh")
    P.run_pipeline(spark, src, fresh, incremental_link=True)
    want_linked = sorted(map(tuple, P.read_linked(spark, fresh).collect()))
    want_edges = sorted(map(tuple, P.read_edges(spark, fresh).collect()))
    assert want_linked and want_edges

    def assert_from_scratch():
        assert sorted(map(tuple, P.read_linked(spark, base).collect())) == want_linked
        assert sorted(map(tuple, P.read_edges(spark, base).collect())) == want_edges

    # first pipeline contact migrates stages 2 and 4
    r = P.run_pipeline(spark, src, base, incremental_link=True)
    assert not r.linked.skipped and not r.edges.skipped
    assert_from_scratch()
    # compact must keep the live increments (per-file branch wins even
    # though the legacy __SNAPSHOT__ mark lingers in the log), and the
    # mixed-schema edges dir must compact cleanly (mergeSchema)
    compact(spark, base, "linked")
    compact(spark, base, "edges")
    assert_from_scratch()
    assert not P.run_pipeline(spark, src, base, incremental_link=True).any_work


def test_deletion_wave_commits_tombstones_atomically_with_relinks(spark, tmp_path):
    """A deletion's stage-2 tombstones and the re-link of its
    alias-affected files must land in ONE checkpoint append (same
    run_id): separate writes opened a crash window where the tombstone
    erased the `gone` diff while the re-link never landed, and the
    rerun skipped forever (r6 review)."""
    from sema_spark.sources.checkpoint import TOMBSTONE, delete_files, read_checkpoint_log

    src = corpus_df(spark, "xs").filter("repo = 'org0/proj0'")
    base = str(tmp_path / "kg")
    P.run_pipeline(spark, src, base, incremental_link=True)
    delete_files(
        spark, base, "triples",
        spark.createDataFrame([("org0/proj0", "src/m1.py")], "repo string, path string"),
    )
    shrunk = src.filter(~(F.col("path") == "src/m1.py"))
    r = P.run_pipeline(spark, shrunk, base, incremental_link=True)
    assert r.link_mode == "delta" and not r.linked.skipped

    log = read_checkpoint_log(spark, base, "linked")
    tomb = log.filter(F.col("content_sha") == TOMBSTONE)
    assert {x.path for x in tomb.collect()} == {"src/m1.py"}
    tomb_run = tomb.collect()[0].run_id
    # the relinked files' rows share the tombstone's run_id
    relinked = log.filter((F.col("run_id") == tomb_run) & (F.col("content_sha") != TOMBSTONE))
    assert relinked.filter(~F.col("repo").startswith("__")).count() > 0


def test_legacy_base_emptied_corpus_serves_empty_not_stale(spark, tmp_path):
    """Legacy snapshot base whose corpus empties out: reads serve the
    empty per-file state, never the stale snapshot, and compaction does
    not bring the snapshot back."""
    from sema_spark.operators.linking import link_triples
    from sema_spark.operators.mentions import extract_triples, salted_repartition, with_content_sha
    from sema_spark.schemas import REPOS, TRIPLES
    from sema_spark.sources.checkpoint import (
        delete_files,
        input_fingerprint,
        read_stage_output,
        run_incremental_stage,
        run_snapshot_stage,
    )

    src = corpus_df(spark, "xs").filter("repo = 'org0/proj0'")
    base = str(tmp_path / "kg")
    run_incremental_stage(
        spark, with_content_sha(src), "triples", base,
        lambda p: extract_triples(salted_repartition(p, None)),
    )
    triples = read_stage_output(spark, base, "triples", schema=TRIPLES)
    fp = input_fingerprint(triples.select("repo", "path", "content_sha"))
    run_snapshot_stage(
        spark, fp, "linked", base, lambda: link_triples(triples, fuzzy=True),
        params="fuzzy=True",
    )

    # empty the corpus: tombstone every file, then run on an empty source
    delete_files(spark, base, "triples", src.select("repo", "path").distinct())
    empty = spark.createDataFrame([], REPOS)
    P.run_pipeline(spark, empty, base, incremental_link=True)
    assert P.read_linked(spark, base).count() == 0
    assert P.read_edges(spark, base).count() == 0
    # and the state is now stable
    assert not P.run_pipeline(spark, empty, base, incremental_link=True).any_work
    # compaction rewrites the legacy snapshot as a snapshot; the per-file
    # read still ignores it
    from sema_spark.sources.checkpoint import compact

    compact(spark, base, "linked")
    compact(spark, base, "edges")
    assert P.read_linked(spark, base).count() == 0
    assert P.read_edges(spark, base).count() == 0
    assert not P.run_pipeline(spark, empty, base, incremental_link=True).any_work


def test_flagship_who_imports(spark, kg):
    base, _, _ = kg
    got = {
        r.path
        for r in P.who_imports(spark, base, "org0/proj0/src/m1.py")
        .filter("repo = 'org0/proj0'")
        .collect()
    }
    rows, _ = generate_corpus("xs")
    expect = {
        r.path
        for r in rows
        if r.repo == "org0/proj0" and ("import m1\n" in r.content)
    }
    assert got == expect and got


def test_semantic_search_self_match(spark):
    src = corpus_df(spark, "xs").filter("repo = 'org0/proj0'")
    chunks = chunk_and_embed(src).withColumnRenamed("start_line", "start_line")
    rows, _ = generate_corpus("xs")
    probe = next(r for r in rows if r.repo == "org0/proj0" and r.path == "src/m5.py")
    res = P.semantic_search(spark, chunks, probe.content[:200], k=10).collect()
    assert res
    assert res[0].path == "src/m5.py"  # self-similarity wins
    assert res[0].score > 0.8
    assert res[0].matches_in_file >= 1


def test_pipeline_empty_source_is_valid_state(spark, tmp_path):
    """A source whose files are all filtered out (or an empty table) is a
    legitimate pipeline state: every stage completes, reads return empty
    frames with the right schemas — no schema-inference crashes."""
    from sema_spark.schemas import REPOS

    base = str(tmp_path / "kg")
    empty = spark.createDataFrame([], REPOS)
    run = P.run_pipeline(spark, empty, base)
    assert P.read_triples(spark, base).count() == 0
    assert P.read_edges(spark, base).count() == 0
    assert set(P.read_triples(spark, base).columns) >= {"subj", "pred", "obj"}
    # a rerun skips every stage (nothing changed) and appends nothing
    run2 = P.run_pipeline(spark, empty, base)
    assert not run2.any_work
    assert P.read_triples(spark, base).count() == 0


def test_fuzzy_flag_change_regenerates_linked(spark, tmp_path):
    """The snapshot skip fingerprint covers pipeline params: flipping
    fuzzy= must re-run stage 2 (and stage 4, which keys on stage-2's
    run_id) even though the input keys are unchanged."""
    base = str(tmp_path / "kg")
    src = corpus_df(spark, "xs")
    r_a = P.run_pipeline(spark, src, base, fuzzy=True)
    r_b = P.run_pipeline(spark, src, base, fuzzy=True)
    assert r_b.linked.skipped and r_b.edges.skipped
    r_c = P.run_pipeline(spark, src, base, fuzzy=False)
    assert not r_c.linked.skipped and not r_c.edges.skipped
    assert r_c.triples.skipped  # stage 1 unaffected by the flag
