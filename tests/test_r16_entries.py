"""Round-16 pack invariants: the LCC-driven second dedup pass.

Oracle-hash parity for `dedup_lcc_second_pass` runs in the replay /
driver gate; these tests pin what the oracle can't express — the
pass's IDEMPOTENCE (apply the delta, re-run, get an empty delta: the
fixpoint the operator's contract promises), mass conservation (no
document disappears or double-counts through a merge), and the
structural relationship with the manifest and LCC entries it composes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_tj_project_spark.harness_dedup import (
    LCC_MERGE_THRESHOLD_MILLI,
    dedup_lcc_second_pass,
    shared_family_manifest,
)
from etl_tj_project_spark.operators.graph import (
    apply_lcc_second_pass,
    lcc_second_pass_delta,
)
from etl_tj_project_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE

SF_MID = "/root/testdata/sf0.01"


def test_lcc_second_pass_structure(spark):
    """Non-vacuous at smoke scale, and structurally a delta manifest:
    every merged group has >= 2 member families (groups come from
    edges), the new canonical IS one of the group's member survivors,
    merged_component_id is the group's minimum survivor id (the CC
    convention), and n_families counts the group's rows exactly."""
    delta = dedup_lcc_second_pass(spark, SF_SMOKE)
    rows = delta.collect()
    assert rows, "second pass is vacuous at smoke scale"
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r["merged_component_id"], []).append(r)
    for gid, members in by_group.items():
        survivors = {m["survivor_doc_id"] for m in members}
        assert len(members) >= 2
        assert gid == min(survivors)
        assert len({m["new_canonical_doc_id"] for m in members}) == 1
        assert members[0]["new_canonical_doc_id"] in survivors
        assert all(m["n_families"] == len(members) for m in members)


def test_lcc_second_pass_conserves_doc_mass(spark):
    """n_docs_total must equal the sum of the member families'
    first-pass n_members — the delta re-labels documents, it never
    creates or destroys them."""
    delta = dedup_lcc_second_pass(spark, SF_SMOKE)
    manifest = shared_family_manifest(spark, SF_SMOKE)
    joined = (
        delta.join(manifest.select("component_id", "n_members"), "component_id")
        .groupBy("merged_component_id", "n_docs_total")
        .agg(F.sum("n_members").alias("member_mass"))
    )
    bad = joined.filter(F.col("n_docs_total") != F.col("member_mass")).count()
    assert bad == 0
    # And globally: total doc count is invariant under apply.
    merged = apply_lcc_second_pass(manifest, delta)
    before = manifest.agg(F.sum("n_members")).first()[0]
    after = merged.agg(F.sum("n_members")).first()[0]
    assert before == after


def test_lcc_second_pass_idempotent(spark, tmp_path):
    """The contract the verdict asked to pin (VERDICT r15 item 5):
    apply the delta, materialize the merged manifest (the production
    move — see apply_lcc_second_pass's docstring), re-run the pass on
    it, and the new delta must be EMPTY at sf0.001 AND sf0.01. Merged
    cliques collapse to one survivor; merge edges cannot re-fire
    across group boundaries (an inter-group residual edge had a
    non-candidate endpoint by construction of the both-high filter)."""
    for sf in (SF_SMOKE, SF_MID):
        docs = load_table(spark, sf, "documents")
        manifest = shared_family_manifest(spark, sf)
        delta = lcc_second_pass_delta(
            docs, manifest, threshold_milli=LCC_MERGE_THRESHOLD_MILLI
        )
        n_groups = delta.select("merged_component_id").distinct().count()
        assert n_groups >= 2, f"pass vacuous at {sf}"
        merged = apply_lcc_second_pass(manifest, delta)
        # pytest-managed tmp dir (ADVICE r16: mkdtemp leaked one
        # directory per run; tmp_path is cleaned up by the harness).
        out = str(tmp_path / f"merged_{sf.replace('/', '_')}")
        merged.write.mode("overwrite").parquet(out)
        merged = spark.read.parquet(out)
        # Survivor count strictly shrinks by (families - groups).
        assert (
            merged.count()
            == manifest.count() - delta.count() + n_groups
        )
        delta2 = lcc_second_pass_delta(
            docs, merged, threshold_milli=LCC_MERGE_THRESHOLD_MILLI
        )
        assert delta2.count() == 0, f"second application not a no-op at {sf}"


def test_star_edges_give_identical_components(spark):
    """SCALE.md §28's lever, pinned: connected components over the
    per-bucket STAR edges (O(docs x bands)) must equal components over
    the all-pairs candidate graph (quadratic in family size) — same
    node set, same min-reachable-id label for every node — at BOTH test
    scales (sf0.01 has bucket shapes sf0.001 lacks)."""
    from etl_tj_project_spark.operators import dedup as dd

    for sf in (SF_SMOKE, SF_MID):
        d = load_table(spark, sf, "documents")
        pairs = dd.lsh_candidate_pairs(d, "doc_id", "text", 8, 4)
        stars = dd.lsh_star_edges(d, "doc_id", "text", 8, 4)
        lp = dd.materialize_labels(
            dd.connected_components(pairs, "doc_a", "doc_b")
        )
        ls = dd.materialize_labels(
            dd.connected_components(stars, "doc_a", "doc_b")
        )
        assert lp.count() == ls.count(), sf
        diff = lp.exceptAll(ls).count() + ls.exceptAll(lp).count()
        assert diff == 0, f"star-edge labels diverge at {sf}: {diff} rows"


def test_star_edges_are_linear_in_bucket_size(spark):
    """The point of the lever: on a copy-inflated corpus the star edge
    count must grow ~linearly (<= docs x bands) while the candidate
    pair table grows quadratically in family size."""
    from pyspark.sql import functions as F

    from etl_tj_project_spark.operators import dedup as dd

    d = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "n_chars"
    )
    shift = d.agg(F.max("doc_id")).first()[0] + 1
    fam = d.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("r"),
    ).select((F.col("doc_id") + F.col("r") * shift).alias("doc_id"), "text")
    n_docs = fam.count()
    n_pairs = dd.lsh_candidate_pairs(fam, "doc_id", "text", 8, 4).count()
    n_stars = dd.lsh_star_edges(fam, "doc_id", "text", 8, 4).count()
    assert n_stars <= n_docs * 4, (n_stars, n_docs)
    # Exact 4x copies: every base doc's replica group is a 4-clique in
    # the pair graph (>= C(4,2)=6 pairs per doc) but only 3 star edges.
    assert n_pairs > 2 * n_stars, (n_pairs, n_stars)


def test_lcc_second_pass_merges_only_high_lcc_nodes(spark):
    """Every merged survivor must clear the entry's published bar in
    the residual LCC entry's own output (degree >= 2, lcc_milli >=
    600) — the pass may merge a SUBSET of high-lcc nodes (those with
    high-high edges), never a node below the bar."""
    from etl_tj_project_spark.harness_dedup import (
        graph_residual_clustering_coefficient,
    )

    delta = dedup_lcc_second_pass(spark, SF_SMOKE)
    lcc = graph_residual_clustering_coefficient(spark, SF_SMOKE)
    below = lcc.filter(
        (F.col("degree") < 2)
        | (F.col("lcc_milli") < LCC_MERGE_THRESHOLD_MILLI)
    ).select(F.col("node").alias("survivor_doc_id"))
    offenders = delta.join(below, "survivor_doc_id", "inner").count()
    assert offenders == 0


def test_second_pass_exact_copy_strain(spark):
    """Exact-copy strain theorem (the guardrail runners' regime,
    extended to the round-16 operator): on a 3x byte-identical-copy
    corpus the second pass's delta manifest must be row-for-row
    identical to the base corpus's after rescaling n_docs_total by 3 —
    copies vanish into their originals' families in pass one, the
    survivor set is unchanged, and every later stage is a function of
    survivor text alone (all asserted inside the runner, including
    base-delta non-vacuity)."""
    from etl_tj_project_spark import strain

    row = strain.run_lcc_second_pass_strain(spark, SF_SMOKE, replicas=3)
    assert row["replicas"] == 3
    assert row["delta_rows"] == row["delta_rows_base"] > 0
    assert 0 < row["n_survivors"] <= row["docs"] // 3


def test_second_pass_threshold_boundaries(spark):
    """Pin the measured threshold landscape the entry's 600-milli
    choice rests on (module docstring of harness_r16): at 1000 the
    merge-edge graph is EMPTY at smoke scale (a vacuity boundary — a
    pass registered there would be hash-green on 0 == 0), and at 400
    the candidates chain into ONE giant component swallowing 100+
    families (the transitive-accident blob the LCC diagnostic exists
    to exclude). 600 must stay strictly between: multiple groups, none
    giant."""
    from etl_tj_project_spark.operators.graph import lcc_second_pass_delta

    docs = load_table(spark, SF_SMOKE, "documents")
    manifest = shared_family_manifest(spark, SF_SMOKE)
    assert lcc_second_pass_delta(docs, manifest, 1000).count() == 0
    blob = lcc_second_pass_delta(docs, manifest, 400)
    assert blob.select("merged_component_id").distinct().count() == 1
    assert blob.count() >= 100
    chosen = lcc_second_pass_delta(docs, manifest, 600)
    groups = (
        chosen.groupBy("merged_component_id").count().collect()
    )
    assert len(groups) >= 2
    assert max(r["count"] for r in groups) < 100


def test_shared_artifacts_never_serve_stale_data(spark, tmp_path):
    """The store-key claim pinned (round 17: the artifacts are
    manifest.py snapshot tables): shared_family_manifest and
    shared_residual_pairs resolve their snapshot root from (realpath,
    documents content signature — sorted relative path + size + mtime),
    so REWRITING a corpus under the same path — the test-tempdir reuse
    shape — resolves to a DIFFERENT root and must recompute, never
    serve the previous corpus's artifact."""
    import shutil

    from etl_tj_project_spark.harness_dedup import (
        shared_family_manifest,
        shared_residual_pairs,
    )
    from etl_tj_project_spark.reuse import shared_artifact_root

    sf = str(tmp_path / "corpus")
    docs_a = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 3, 100)
         for i in range(6)],
        "doc_id long, text string, n_chars long",
    )
    docs_a.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    m1 = shared_family_manifest(spark, sf)
    # six identical docs -> one family
    assert m1.count() == 1
    p1 = shared_residual_pairs(spark, sf).count()
    assert p1 == 0  # one survivor: no residual pairs

    shutil.rmtree(f"{sf}/documents.parquet")
    words = ["aardvark", "borough", "crystal", "dungeon"]
    docs_b = spark.createDataFrame(
        [(i, (words[i] + str(i) + " ") * 8, 50) for i in range(4)],
        "doc_id long, text string, n_chars long",
    )
    docs_b.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    m2 = shared_family_manifest(spark, sf)
    assert m2.count() == 4, "stale manifest served after corpus rewrite"
    # The snapshot path itself: a rewritten corpus resolves to a
    # different artifact root, so the stale snapshot is unreachable.
    # (Content signature, not just mtime: both roots exist, each
    # holding its own corpus's manifest.)
    # Note the roots differ even though realpath is identical.
    root_b = shared_artifact_root(sf)
    from etl_tj_project_spark import manifest as mf

    assert mf.current_version(root_b) >= 1


def test_shared_artifacts_are_snapshot_tables(spark, tmp_path):
    """VERDICT r16 item 5, pinned: the shared guardrail artifacts are
    PUBLISHED manifest.py snapshot tables keyed by corpus content —
    not per-SparkSession memos. (1) the first consumer commits, the
    second reads through the manifest pointer (miss-then-hit in the
    event log); (2) the root's address contains no session/application
    component, and the pointer + parquet survive on disk — a NEW
    SparkSession/process resolving the same corpus reads the committed
    table without recomputing; (3) both artifacts live in ONE root:
    residual_pairs commits a later version that carries
    family_manifest forward by reference."""
    import etl_tj_project_spark.harness_r12 as hr12
    from etl_tj_project_spark import manifest as mf
    from etl_tj_project_spark import reuse
    from etl_tj_project_spark.harness_dedup import (
        shared_family_manifest,
        shared_residual_pairs,
    )
    from etl_tj_project_spark.operators import dedup
    from etl_tj_project_spark.reuse import shared_artifact_root

    sf = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(i, f"unique document body {i} with distinct tail words "
             f"{'x' * (i + 3)}", 60) for i in range(5)],
        "doc_id long, text string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    ev0 = len(hr12.ARTIFACT_EVENTS)
    m1 = shared_family_manifest(spark, sf)
    n1 = m1.count()
    shared_residual_pairs(spark, sf).count()
    m2 = shared_family_manifest(spark, sf)
    assert m2.count() == n1
    events = hr12.ARTIFACT_EVENTS[ev0:]
    assert events[0] == ("family_manifest", "miss")
    assert ("family_manifest", "hit") in events[1:]

    # The benchmark's observation points read these names through
    # harness_r12 and operators.dedup; they must stay bound to the
    # reuse layer's own objects.
    assert hr12.ARTIFACT_EVENTS is reuse.ARTIFACT_EVENTS
    rows = spark.createDataFrame([(sf,)] * 4, "path string")  # unseen plan
    before = len(dedup._COUNT_MEMO)
    assert dedup._count_once(rows) == 4
    assert len(dedup._COUNT_MEMO) == before + 1  # a miss grows the memo
    assert dedup._count_once(rows) == 4
    assert len(dedup._COUNT_MEMO) == before + 1  # a hit does not

    # Cross-session survival: the root is a pure function of the
    # corpus (no applicationId anywhere), and the committed snapshot
    # is readable directly through manifest.py — which is exactly what
    # a fresh process does.
    root = shared_artifact_root(sf)
    assert spark.sparkContext.applicationId not in root
    assert mf.read_table(spark, root, "family_manifest").count() == n1

    # One root, consecutive versions, carry-forward by reference.
    versions = mf.list_versions(root)
    assert versions == [1, 2], versions
    live = mf.current_manifest(root)
    assert set(live["tables"]) == {"family_manifest", "residual_pairs"}
    assert live["tables"]["family_manifest"].endswith("snap-1")
    assert live["tables"]["residual_pairs"].endswith("snap-2")


def test_artifact_store_default_is_per_process(tmp_path):
    """Pin the integrity rule: shared_artifact_root must resolve under
    THIS process's exit-cleaned tempdir store — never a path that could
    be shared with (or left over from) another process. A future
    refactor that silently re-promotes cross-run caching fails here."""
    import os

    from etl_tj_project_spark.reuse import (
        _PROCESS_STORE,
        shared_artifact_root,
    )

    sf = str(tmp_path / "corpus")
    os.makedirs(sf, exist_ok=True)
    with open(os.path.join(sf, "documents.parquet"), "wb") as fh:
        fh.write(b"stub")
    root = os.path.realpath(shared_artifact_root(sf))
    assert _PROCESS_STORE, "per-process store was never initialised"
    store = os.path.realpath(_PROCESS_STORE[0])
    assert root.startswith(store + os.sep), (root, store)
    # The store is a mkdtemp child of the system tempdir, not a fixed
    # well-known path another process could collide with.
    import tempfile

    assert store.startswith(os.path.realpath(tempfile.gettempdir()) + os.sep)
    assert os.path.basename(store).startswith("tj_shared_artifacts_")
