"""Round-15 pack invariants: the canonicalize-first guardrail applied
to the symmetric Jaccard join and to triangle counting.

Oracle-hash parity for `graph_triangle_count_canonical` runs in the
replay/driver gate; these tests pin what the oracle can't express —
the EXACT clique-lift closed form of the direct triangle count under
copy inflation, the guardrail's identical-output guarantee on the
inflated corpus, and the composed entry's structural equality with
its two stages.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_tj_project_spark import strain
from etl_tj_project_spark.harness_dedup import (
    dedup_cluster_canonicalize,
    graph_triangle_count_canonical,
)
from etl_tj_project_spark.operators import dedup as dd
from etl_tj_project_spark.operators.graph import triangle_count_oriented
from etl_tj_project_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE


def test_jaccard_guardrail_strain(spark):
    """On a 3x exact-copy corpus the direct prefix-filtered Jaccard
    join's output must be >= 9x the base output (the runner asserts
    the replicas^2 floor internally) and the guardrail's pair set must
    be identical to the base canonical-first run (asserted inside via
    exceptAll both ways on non-empty sets)."""
    row = strain.run_jaccard_guardrail_strain(spark, SF_SMOKE, replicas=3)
    assert row["replicas"] == 3
    assert row["pairs_direct"] >= 9 * row["pairs_base_direct"]
    assert row["pairs_canonical"] > 0
    # The whole point: the guardrail's output does NOT inflate.
    assert row["pair_cut_x"] >= 9
    assert 0 < row["n_canonical"] <= row["docs"] // 3
    assert row["sec_direct"] > 0 and row["sec_guardrail_e2e"] > 0


def test_triangle_guardrail_strain(spark):
    """The clique-lift closed form (T*r^3 + E*2r*C(r,2) + N*C(r,3))
    must hold EXACTLY for the direct count on a 3x exact-copy corpus,
    and the guardrail's survivor-graph triangles must equal the base
    canonical run's (both asserted inside the runner); here we pin the
    record's shape and that the lift is the combinatorial explosion
    the guardrail removes."""
    row = strain.run_triangle_guardrail_strain(spark, SF_SMOKE, replicas=3)
    assert row["replicas"] == 3
    r = 3
    c_r2, c_r3 = 3, 1
    assert row["t_direct"] == (
        row["t_base"] * r**3
        + row["e_base"] * 2 * r * c_r2
        + (row["docs"] // r) * c_r3
    )
    # Every doc's replica group alone contributes C(3,3)=1 triangle,
    # so the direct count must exceed the base count by at least the
    # doc count — the clique factory is real even on a sparse corpus.
    assert row["t_direct"] >= row["t_base"] + row["docs"] // r
    assert row["sec_direct"] > 0 and row["sec_guardrail_e2e"] > 0


def test_triangle_canonical_is_triangles_on_survivors_plus_families(spark):
    """The composed entry must equal triangle counting over exactly
    the canonical-survivor RESIDUAL graph (bands=8 — the loose
    single-minhash threshold) plus the closed-form family term
    computed independently from the manifest — and the total must be
    their sum. BOTH terms must be non-vacuous at smoke scale."""
    out = graph_triangle_count_canonical(spark, SF_SMOKE).first()

    manifest = dedup_cluster_canonicalize(spark, SF_SMOKE)
    d = load_table(spark, SF_SMOKE, "documents")
    reps = d.join(
        manifest.select(F.col("canonical_doc_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    pairs = dd.lsh_candidate_pairs(reps, "doc_id", "text", 8, 8)
    want_tri = triangle_count_oriented(pairs).first()[0]
    fam_sizes = [r.n_members for r in manifest.select("n_members").collect()]
    want_fam = sum(k * (k - 1) * (k - 2) // 6 for k in fam_sizes)

    assert out.n_triangles_canonical == want_tri
    assert out.n_triangles_within_family == want_fam
    assert (
        out.n_triangles_total
        == out.n_triangles_canonical + out.n_triangles_within_family
    )
    # Non-vacuity of the GRAPH term (the whole reason the residual
    # graph runs at bands=8: at the family graph's bands=4 it is
    # provably empty — an edge would have merged the components).
    assert out.n_triangles_canonical > 0
    # Non-vacuity of the FAMILY term: the smoke corpus has real
    # near-dup families with >= 3 members.
    assert out.n_triangles_within_family > 0


def test_triangle_canonical_family_graph_residual_is_empty(spark):
    """Pin the structural fact that forced the bands=8 choice: at the
    family graph's OWN parameters (bands=4) the survivor graph has no
    edges at all — two survivors sharing a band would have been one
    component. If this ever fails, the residual-threshold rationale
    in harness_r15 is stale."""
    manifest = dedup_cluster_canonicalize(spark, SF_SMOKE)
    d = load_table(spark, SF_SMOKE, "documents")
    reps = d.join(
        manifest.select(F.col("canonical_doc_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    assert (
        dd.lsh_candidate_pairs(reps, "doc_id", "text", 8, 4).count() == 0
    )


def test_residual_lcc_consistent_with_triangle_entry(spark):
    """Conservation laws tying the two residual-graph entries
    together: (1) each triangle is counted at exactly its 3 member
    nodes, so sum(n_triangles) over nodes == 3 * the triangle entry's
    residual count; (2) lcc_milli in [0, 1000] with the closed-wedge
    bound 2*tri(v) <= deg(v)*(deg(v)-1) row-wise; (3) non-vacuous —
    some node has a strictly positive, strictly sub-1000 coefficient
    so the statistic genuinely discriminates."""
    from etl_tj_project_spark.harness_dedup import (
        graph_residual_clustering_coefficient,
    )

    lcc = graph_residual_clustering_coefficient(spark, SF_SMOKE).collect()
    tri = graph_triangle_count_canonical(spark, SF_SMOKE).first()
    assert sum(r.n_triangles for r in lcc) == 3 * tri.n_triangles_canonical
    for r in lcc:
        assert 0 <= r.lcc_milli <= 1000, r
        assert 2 * r.n_triangles <= r.degree * (r.degree - 1) or (
            r.degree < 2 and r.n_triangles == 0
        ), r
    assert any(0 < r.lcc_milli < 1000 for r in lcc)
