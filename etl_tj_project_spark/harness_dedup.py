"""Dedup-guardrail registry entries: asymmetric containment dedup, the
near-dup family manifest (LSH bands → connected components → one
canonical survivor per family) with the shared guardrail artifacts
built on it, and the consumers that run their combinatorial stage on
survivors only — containment and Jaccard joins, residual triangle
counting and clustering, and the LCC second pass — plus the streaming
dedup entry.

Containment is the near-dup relation Jaccard systematically misses
(quote-inclusion: a small doc inside a big doc has high containment, low
Jaccard) and is the documented RealNewsLike/C4 subset rule.

SCALE.md §25b measured that asymmetric containment under near-dup COPY
inflation is output-bound — a 10-copy family genuinely has ~100x the
qualifying ordered pairs — and recorded "canonicalize families before
pairwise ops" as the production guardrail. ``dedup_containment_canonical``
is that operator: the full dedup DECISION pipeline feeding the exact
prefix-filtered containment join over the survivors UNIONED with a
deterministic contained-fragment probe set (the synthetic corpus has no
natural 80%-containment pair among survivors, so without probes the
entry would return 0 rows and its oracle check would be vacuous). The
companion strain runner (strain.py run_containment_guardrail_strain)
proves the point quantitatively: at a 4x exact-copy corpus the
candidate-join input drops >= replicas^2 while the final pair set is
IDENTICAL to the base-corpus run.

Graph analytics get the same guardrail. Copy inflation multiplies
triangles ~combinatorially (every k-copy family is a k-clique in the LSH
candidate graph; SCALE.md §26 measured `graph_triangle_count` at 342 s
on the sf1.0 copy-inflated corpus). ``graph_triangle_count_canonical``
counts degree-oriented triangles on the survivor RESIDUAL graph and adds
the closed-form within-family count sum(C(k, 3)) per k-member family —
exact under the copy-inflation model where a family is a clique of
equivalent documents. The residual graph is built at a LOOSER threshold
than the family graph (bands=8, one minhash per band, vs the family
definition's bands=4 two-row bands) — necessarily so: with the family
graph's own parameters the survivor graph is provably EMPTY, since any
band collision between two docs merges their connected components. At
the single-minhash threshold survivors genuinely connect — near-miss
pairs below the family bar — and the triangle statistic answers "are the
remaining near-miss groups cliquish (template families the family
threshold missed) or chains (transitive accidents)?" The mixed class (2
nodes in one family + 1 outside) is deliberately NOT restated — those
edges are family-membership duplicates of the surviving doc's edges,
which is exactly the redundancy canonicalization removes.

``graph_residual_clustering_coefficient`` is the matching DIAGNOSTIC: a
survivor with lcc ~ 1000 sits in a near-miss template family the bands=4
family threshold missed; lcc ~ 0 marks chain/hub structure a dedup pass
must NOT merge. ``dedup_lcc_second_pass`` is the pass the diagnostic
recommends (implementation: `operators/graph.lcc_second_pass_delta`):
survivors with degree >= 2 and lcc_milli >= 600 in the bands=8 residual
graph are merge candidates, residual edges whose BOTH endpoints are
candidates are merge edges, connected components over those edges are
the merged super-families, and the output is the DELTA manifest a
rewrite stage applies (`operators/graph.apply_lcc_second_pass`).

Threshold choice (measured, sf0.001/sf0.01): at 400 milli the candidate
set chains into one giant component (138 of 330 survivors — exactly the
transitive-accident merge the diagnostic warns against); at 800+ the
pass is near-vacuous (one 2-3 node group); 600 yields 3-4 genuine
cliquish groups of 31-40 families at both scales. The pass is IDEMPOTENT
at test scale — applying the delta and re-running yields an empty delta
at sf0.001 AND sf0.01 (pinned in tests/test_r16_entries.py) — because
merged cliques collapse to one survivor and merge edges cannot re-fire
across group boundaries (an inter-group residual edge had a
non-candidate endpoint by construction).

``stream_dedup_watermark`` registers the streaming dedup primitive
(``dropDuplicatesWithinWatermark``): a REAL Structured Streaming query
(file source, availableNow trigger, memory sink) over a
duplicate-injected copy of the events table, with batch exact dedup as
its DuckDB equality oracle. State is bounded by the watermark horizon,
the property that keeps exactly-once ingest dedup viable at 10^12
events. Injected duplicates are exact row copies, so keep-first vs
keep-any cannot diverge.

At 100 TB: the family manifest is checkpointed label propagation,
computed once per corpus and read by every consumer through the shared
artifact store (`shared_family_manifest`, `shared_residual_pairs`); the
survivor graph is corpus-sized MINUS duplicate mass (the whole point);
the analytic stages are aggregations over the family-count manifest.
Every rate/ratio is BIGINT `div` BIGINT — no float decides membership.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_tj_project_spark.harness import register
from etl_tj_project_spark.operators import dedup as dd
from etl_tj_project_spark.operators.graph import triangle_count_oriented
from etl_tj_project_spark.reuse import shared_artifact
from etl_tj_project_spark.sources.testdata import load_table


# =========================================================================
# Asymmetric containment dedup (prefix-filtered, exact)
# =========================================================================

@register(
    "dedup_containment_ngram",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                    i -> array_to_string(toks[i:i+2], ' ')) END)) AS term
      FROM t
    ), sz AS (
      SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM s a JOIN s b USING (term)
      WHERE a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(z.sz AS BIGINT)      AS sz_a,
           CAST(i.n_inter * 1000 // z.sz AS BIGINT) AS containment_milli
    FROM inter i JOIN sz z ON z.doc_id = i.doc_a
    WHERE 5 * i.n_inter >= 4 * z.sz
    """,
    doc="Asymmetric containment near-dup at C(a in b) >= 4/5 over "
        "distinct word-3-gram shingles — catches quote-inclusion pairs "
        "Jaccard misses (|A∩B|/|A| is high when A is quoted inside a "
        "long B, while |A∩B|/|A∪B| is diluted by B's size). Spark side "
        "is the PREFIX-FILTERED exact algorithm "
        "(operators/dedup.py prefix_filter_containment_pairs): "
        "rarest-first shingle order, A-prefix x B-full-postings "
        "candidate join, exact relational verify — zero false "
        "negatives by pigeonhole, so the all-pairs oracle restatement "
        "here must agree exactly. Integer cross-multiplied threshold; "
        "containment_milli is BIGINT div. Selection rule (direct vs canonical): COVERAGE.md round 16",
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.prefix_filter_containment_pairs(
        docs, "doc_id", "text", ngram=3, t_num=4, t_den=5
    )


# =========================================================================
# Near-dup family canonicalization and the shared guardrail artifacts
# =========================================================================


def _canonicalize_oracle() -> str:
    # The shared SQL twin in operators/dedup.py, so that the composed
    # guardrail oracles below build on the SAME text.
    return dd.canonicalize_manifest_sql(
        "documents", "doc_id", "text", "n_chars", num_hashes=8, bands=4
    )


@register(
    "dedup_cluster_canonicalize",
    _canonicalize_oracle(),
    doc="The dedup DECISION end-to-end: LSH connectivity graph → "
        "connected components → pick ONE canonical survivor per "
        "near-dup cluster (longest document, doc_id tie-break — the "
        "C4/RefinedWeb keep rule), singletons kept as their own "
        "canonicals via the left-join fallback. Output is the survivor "
        "manifest a rewrite stage consumes: (component, canonical doc, "
        "size). Round 16 (SCALE.md §28): the connectivity graph is "
        "lsh_star_edges — per-bucket stars, O(docs x bands) edges at "
        "ANY duplicate density — not the all-pairs candidate join, "
        "whose C(k,2)-per-family output was the only super-unit term "
        "of the guardrail pipeline; components and manifest are "
        "provably identical (pinned at smoke scale, and this entry's "
        "oracle hash-checks the composition against a recursive-CTE "
        "twin that still walks the ALL-PAIRS graph)",
)
def dedup_cluster_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Materialize the labels (not raw connected_components): they come
    # back as a parquet FileScan with the checkpoint blocks already
    # released, so this plan composes windows over a FileScan — the
    # size-dispatched numpy path stays an internal detail of the CC
    # stage (the JVM-purity sweep sees no MapInPandas here).
    edges = dd.lsh_star_edges(d, "doc_id", "text", num_hashes=8, bands=4)
    labels = dd.materialize_labels(
        dd.connected_components(edges, "doc_a", "doc_b")
    )
    full = (
        d.select("doc_id", "n_chars")
        .join(labels, d["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias(
                "component_id"
            ),
        )
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    members = full.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    canon = (
        full.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_chars").cast("long").alias("canonical_n_chars"),
        )
    )
    return canon.join(members, "component_id")


# Shared guardrail artifacts as SNAPSHOT TABLES (VERDICT r15 item 1,
# promoted per VERDICT r16 item 5): every guardrail consumer
# (jaccard-canonical, triangle-canonical, residual-LCC, the LCC second
# pass) needs the SAME deterministic family manifest / residual-pair
# table over the same corpus. A production 100 TB pipeline computes
# each ONCE per corpus snapshot, PUBLISHES it as a table, and every
# downstream job reads that table — recomputing LSH + connected
# components + the survivor window per consumer is pure waste
# (SCALE.md §27 measured the canonicalize stage dominating both
# guardrail entries). The store, its keying and its hit/miss log
# (ARTIFACT_EVENTS) live in reuse.py.


def shared_family_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dedup_cluster_canonicalize`` manifest for ``sf_dir``,
    published once per corpus snapshot as the ``family_manifest``
    table of the corpus's artifact store and served from that snapshot
    thereafter — across consumers and SparkSessions within this
    process (see reuse.py for the store's scope). See the block comment
    above for the production rationale; the registered entry itself
    keeps computing fresh (it IS the measurement of the manifest
    stage)."""
    return shared_artifact(
        spark,
        sf_dir,
        "family_manifest",
        ["component_id", "canonical_doc_id", "canonical_n_chars",
         "n_members"],
        lambda: dedup_cluster_canonicalize(spark, sf_dir),
    )


def shared_residual_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivor RESIDUAL candidate-pair table (bands=8 over the
    canonical corpus) for ``sf_dir``, published once per corpus
    snapshot as the ``residual_pairs`` table of the same artifact
    store (a later manifest version of the same root: family_manifest
    is carried forward by reference, never rewritten) — the second
    shared artifact of the guardrail pipeline: the triangle entry, the
    residual-LCC entry, and the LCC second pass all consume EXACTLY
    this table, and a production pipeline writes it once. The table is
    survivor-sized (corpus minus duplicate mass — §27's guardrail
    property), so the artifact cannot inflate with duplicate
    density."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        manifest = shared_family_manifest(spark, sf_dir)
        reps = d.join(
            manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        return dd.lsh_candidate_pairs(reps, "doc_id", "text", 8, 8)

    return shared_artifact(
        spark, sf_dir, "residual_pairs", ["doc_a", "doc_b"], build
    )


# =========================================================================
# The containment guardrail, composed end-to-end
# =========================================================================


def _containment_canonical_oracle() -> str:
    """Canonicalize (recursive-CTE connected components over the
    DuckDB-restated MinHash band graph — the shared SQL twin
    ``dd.canonicalize_manifest_sql``, byte-identical to the
    dedup_cluster_canonicalize oracle), splice in the deterministic
    contained-fragment probe set, then restate the containment
    all-pairs join over survivors + probes. Built entirely from
    operators/dedup.py twins."""
    canon = dd.canonicalize_manifest_sql(
        "documents", "doc_id", "text", "n_chars", num_hashes=8, bands=4
    )
    probes = dd.containment_probe_corpus_sql("docs", "doc_id", "text")
    return f"""
    WITH canon AS MATERIALIZED ({canon}),
    docs AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN canon c ON c.canonical_doc_id = d.doc_id
    ), corpus AS ({probes}), t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
             END AS toks
      FROM corpus
    ), s AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                    i -> array_to_string(toks[i:i+2], ' ')) END)) AS term
      FROM t
    ), sz AS (
      SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM s a JOIN s b USING (term)
      WHERE a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(z.sz AS BIGINT)      AS sz_a,
           CAST(i.n_inter * 1000 // z.sz AS BIGINT) AS containment_milli
    FROM inter i JOIN sz z ON z.doc_id = i.doc_a
    WHERE 5 * i.n_inter >= 4 * z.sz
    """


@register(
    "dedup_containment_canonical",
    _containment_canonical_oracle(),
    doc="SCALE.md §25b's guardrail as an operator (VERDICT r12 item 3): "
        "collapse near-dup families FIRST (LSH bands → connected "
        "components → longest-doc canonical per cluster — the "
        "dedup_cluster_canonicalize manifest, reused through its "
        "parquet-materialized CC entry), THEN run the exact "
        "prefix-filtered containment join over only the canonical "
        "survivors. At adversarial duplicate density the direct join "
        "is output-bound (a k-copy family has ~k^2 qualifying pairs); "
        "canonicalize-first removes those families before the "
        "candidate join exists, so the pairwise stage scales with the "
        "CANONICAL corpus. The strain runner proves the drop is >= "
        "replicas^2 on a 4x exact-copy corpus with the final pair set "
        "unchanged. Survivors are unioned with the deterministic "
        "contained-fragment PROBE set (token-prefix excerpts of every "
        "10th survivor, C(probe->source)=1.0 by construction — "
        "dd.containment_probe_corpus) standing in for the contained-"
        "fragment class a real corpus has but the synthetic smoke "
        "corpus lacks, so the oracle hash compares NON-EMPTY results "
        "at every scale (VERDICT r13 item 1a: no vacuous empty==empty "
        "green). Oracle restates all three stages in one WITH chain "
        "(recursive-CTE CC + probe splice + all-pairs containment). Selection rule (direct vs canonical): COVERAGE.md round 16",
)
def dedup_containment_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    manifest = shared_family_manifest(spark, sf_dir)
    reps = d.join(
        manifest.select(
            F.col("canonical_doc_id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    corpus = dd.containment_probe_corpus(reps, "doc_id", "text")
    return dd.prefix_filter_containment_pairs(
        corpus, "doc_id", "text", ngram=3, t_num=4, t_den=5
    )


def _jaccard_canonical_oracle() -> str:
    """Canonicalize (shared recursive-CTE CC twin), then restate the
    EXACT all-pairs Jaccard join over the survivors. The Spark side
    runs the lossless prefix-filtered form; the oracle may use the
    direct all-pairs form because prefix filtering has zero false
    negatives — same result set, oracle-scale corpus."""
    canon = dd.canonicalize_manifest_sql(
        "documents", "doc_id", "text", "n_chars", num_hashes=8, bands=4
    )
    return f"""
    WITH canon AS MATERIALIZED ({canon}),
    docs AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN canon c ON c.canonical_doc_id = d.doc_id
    ), t AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
               END)) AS term
      FROM docs
    ), sz AS MATERIALIZED (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM t GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
           round(CAST(i.n_inter AS DOUBLE)
                 / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sz za ON za.doc_id = i.doc_a
    JOIN sz zb ON zb.doc_id = i.doc_b
    WHERE 5 * i.n_inter >= 4 * (za.sz + zb.sz - i.n_inter)
    """


@register(
    "dedup_jaccard_canonical",
    _jaccard_canonical_oracle(),
    doc="The §25b/§26 guardrail applied to the SYMMETRIC set-similarity "
        "join (round 14): canonicalize near-dup families first (LSH -> "
        "connected components -> longest-doc survivor), THEN run the "
        "exact prefix-filtered Jaccard self-join at t=4/5 over only "
        "the survivors. SCALE.md §26 measured why this exists: on the "
        "copy-inflated corpus the direct Jaccard join is output-bound "
        "(qualifying pairs 2.97M -> 197.6M at 10x) — collapsing "
        "families before the pairwise stage removes the replicas^2 "
        "pair lift at its source, the same guardrail the containment "
        "variant ships as dedup_containment_canonical. No probe set "
        "needed here: the symmetric join over survivors is naturally "
        "non-vacuous on this corpus (the small vocabulary keeps "
        "genuine >=0.8-Jaccard survivor pairs at every scale). Oracle "
        "restates canonicalize + EXACT all-pairs Jaccard in one WITH "
        "chain (prefix filtering is lossless, so all-pairs == the "
        "prefix-filtered result by construction). Selection rule (direct vs canonical): COVERAGE.md round 16",
)
def dedup_jaccard_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    manifest = shared_family_manifest(spark, sf_dir)
    reps = d.join(
        manifest.select(F.col("canonical_doc_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    return dd.prefix_filter_jaccard_pairs(reps, "doc_id", "text", 4, 5)


# =========================================================================
# Streaming dedup entry: dropDuplicatesWithinWatermark, bounded replay
# =========================================================================


@register(
    "stream_dedup_watermark",
    """
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT)  AS user_id,
           event_type,
           CAST(value AS DOUBLE)    AS value
    FROM events
    """,
    doc="Streaming exactly-once ingest dedup (VERDICT r12 item 2): a "
        "REAL Structured Streaming run — file source over a "
        "duplicate-injected copy of events (every 7th event written "
        "twice), withWatermark + dropDuplicatesWithinWatermark on "
        "event_id, availableNow trigger, memory sink — whose result "
        "must equal batch exact dedup, which is just `events` itself "
        "since injected rows are exact copies. State holds a key only "
        "until the watermark passes it, so state size is bounded by "
        "the duplicate-arrival window, not stream history — the "
        "property that keeps ingest dedup viable at 10^12 events. "
        "Injected duplicates are byte-identical rows, so keep-first "
        "vs keep-any cannot diverge; ts is projected out because the "
        "oracle hash treats the raw event payload as the identity",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.streaming.stateful import dedup_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    # Build the duplicate-injected source dir: full table + every 7th
    # row again. Deterministic (no RNG), byte-identical copies.
    work = tempfile.mkdtemp(prefix="tj_stream_dedup_")
    src = os.path.join(work, "src")
    name = f"stream_dedup_{abs(hash(work)) % (1 << 30)}"
    try:
        dupes = ev.filter(F.col("event_id") % 7 == 0)
        ev.unionAll(dupes).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.format("parquet")
            .schema(spark.read.parquet(src).schema)
            .load(src)
        )
        deduped = dedup_stream(
            stream, ["event_id"], watermark_col="ts", watermark="36500 days"
        )
        q = (
            deduped.select("event_id", "user_id", "event_type", "value")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            # awaitTermination(timeout) returns False on timeout — an
            # unchecked False would read a PARTIAL memory-sink table
            # and record a false correctness failure (ADVICE r13).
            if not q.awaitTermination(300):
                raise RuntimeError(
                    "stream_dedup_watermark: streaming query did not "
                    "finish within 300s"
                )
            # Materialize OFF the memory-sink table before the temp
            # source dir is deleted: the driver collects the returned
            # frame after this function exits. sf0.01 events is 60k
            # rows — bounded replay, per the entry's charter; a 100 TB
            # deployment points the same dedup_stream at a real sink.
            out = spark.createDataFrame(
                spark.table(name).collect(),
                schema=spark.table(name).schema,
            )
        finally:
            # Idempotent after normal termination; on the timeout path
            # it halts the query BEFORE the source dir is deleted below
            # (ADVICE r13: rmtree under a live query caused background
            # FAILED_READ errors). The memory-sink temp view is dropped
            # so repeated runs don't accrete tables in the catalog.
            q.stop()
            spark.catalog.dropTempView(name)
        return out.select(
            F.col("event_id").cast("long"),
            F.col("user_id").cast("long"),
            "event_type",
            F.col("value").cast("double"),
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# =========================================================================
# The canonicalize-first guardrail applied to graph analytics
# =========================================================================


def _triangle_canonical_oracle() -> str:
    """Restate all three stages in one WITH chain: the shared
    recursive-CTE canonicalize twin (`dd.canonicalize_manifest_sql`,
    byte-identical to the dedup_cluster_canonicalize oracle), the
    survivor-only band self-join, a direct x<y<z triangle enumeration
    (oracle-scale corpus — DuckDB needs no degree orientation), and
    the closed-form family sum. Integer `//` division is exact:
    k(k-1)(k-2) is always divisible by 6."""
    canon = dd.canonicalize_manifest_sql(
        "documents", "doc_id", "text", "n_chars", num_hashes=8, bands=4
    )
    # Residual graph at bands=8 (rows-per-band=1), NOT the family
    # graph's bands=4: with identical parameters the survivor graph is
    # provably EMPTY — any band collision between two docs puts them in
    # the same connected component, so two survivors (one per
    # component) can never share a band. The residual analysis must
    # therefore run at a LOOSER threshold than the family definition
    # (single-minhash collision), which families do not collapse.
    bands_sql = dd.minhash_bands_sql(
        "docs", "doc_id", "text", num_hashes=8, bands=8
    )
    return f"""
    WITH canon AS MATERIALIZED ({canon}),
    docs AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN canon c ON c.canonical_doc_id = d.doc_id
    ),
    sb AS MATERIALIZED (SELECT * FROM ({bands_sql}) raw_bands),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM sb a JOIN sb c ON a.band = c.band AND a.h = c.h
                         AND a.doc_id < c.doc_id
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles_canonical
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_a AND e2.doc_b > e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b
    ),
    fam AS (
      SELECT CAST(coalesce(SUM(
               n_members * (n_members - 1) * (n_members - 2) // 6), 0)
             AS BIGINT) AS n_triangles_within_family
      FROM canon
    )
    SELECT tri.n_triangles_canonical,
           fam.n_triangles_within_family,
           CAST(tri.n_triangles_canonical + fam.n_triangles_within_family
                AS BIGINT) AS n_triangles_total
    FROM tri, fam
    """


@register(
    "graph_triangle_count_canonical",
    _triangle_canonical_oracle(),
    doc="The §25b/§26 guardrail applied to graph analytics (VERDICT "
        "r14 item 5): canonicalize near-dup families first (LSH -> "
        "connected components -> longest-doc survivor), THEN run "
        "degree-oriented triangle counting on the survivor RESIDUAL "
        "graph — built at the looser single-minhash threshold "
        "(bands=8), because with the family graph's own bands=4 "
        "parameters the survivor graph is provably empty (an edge "
        "would have merged the components) — and add the closed-form "
        "sum(C(k,3)) internal triangles of each collapsed k-member "
        "family. SCALE.md §26 measured why the composition exists: "
        "copy inflation turns every family into a clique factory "
        "(342 s at sf1.0 for the direct counter, ~1000x triangle "
        "growth) — collapsing families removes the combinatorial term "
        "at its source and replaces it with one aggregation over the "
        "family-size manifest. Output: one row (residual-graph "
        "triangles, analytic within-family triangles, total; "
        "non-vacuous at every scale — 28,152 residual triangles at "
        "sf0.001). Oracle restates canonicalize + survivor bands=8 "
        "join + direct x<y<z enumeration + the family formula in one "
        "WITH chain. Selection rule (direct vs canonical): COVERAGE.md round 16",
)
def graph_triangle_count_canonical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    manifest = shared_family_manifest(spark, sf_dir)
    manifest = dd.narrow_persisted(manifest, "component_id")
    # bands=8 (one minhash per band): the survivor RESIDUAL graph must
    # use a looser threshold than the bands=4 family graph — with the
    # family parameters the survivor graph is empty by construction
    # (an edge would have merged the two components), which would make
    # the graph stage vacuous (the r13 containment lesson). At the
    # single-minhash threshold, survivors genuinely connect (sf0.001:
    # 5,280 edges / 28,152 triangles) and the triangle statistic
    # answers "is the residual near-miss structure cliquish or
    # chained?" over a graph whose size no longer scales with
    # duplicate density.
    # The residual pair table is the SECOND shared artifact (round-16
    # wave 3): computed once per corpus snapshot, read by this entry,
    # the LCC entry, and the second pass.
    pairs = shared_residual_pairs(spark, sf_dir)
    pairs = dd.narrow_persisted(pairs, "doc_a")
    tri = triangle_count_oriented(pairs)
    fam = manifest.agg(
        F.coalesce(
            F.sum(
                F.expr(
                    "n_members * (n_members - 1) * (n_members - 2) DIV 6"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_triangles_within_family")
    )
    return tri.crossJoin(fam).select(
        F.col("n_triangles").alias("n_triangles_canonical"),
        "n_triangles_within_family",
        (F.col("n_triangles") + F.col("n_triangles_within_family"))
        .cast("long")
        .alias("n_triangles_total"),
    )


def _residual_lcc_oracle() -> str:
    """Canonicalize twin + survivor bands=8 residual graph + direct
    x<y<z triangle enumeration exploded to its three members + the
    integer-exact local clustering coefficient: lcc_milli =
    2000 * tri(v) // (deg(v) * (deg(v) - 1)). All-integer arithmetic
    so the hash never depends on float division."""
    canon = dd.canonicalize_manifest_sql(
        "documents", "doc_id", "text", "n_chars", num_hashes=8, bands=4
    )
    bands_sql = dd.minhash_bands_sql(
        "docs", "doc_id", "text", num_hashes=8, bands=8
    )
    return f"""
    WITH canon AS MATERIALIZED ({canon}),
    docs AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN canon c ON c.canonical_doc_id = d.doc_id
    ),
    sb AS MATERIALIZED (SELECT * FROM ({bands_sql}) raw_bands),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM sb a JOIN sb c ON a.band = c.band AND a.h = c.h
                         AND a.doc_id < c.doc_id
    ),
    deg AS MATERIALIZED (
      SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT doc_a AS n FROM pairs
        UNION ALL
        SELECT doc_b AS n FROM pairs
      ) ends GROUP BY n
    ),
    tri AS (
      SELECT unnest([e1.doc_a, e1.doc_b, e2.doc_b]) AS node
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_a AND e2.doc_b > e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b
    ),
    tpn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM tri GROUP BY node
    )
    SELECT d.node, d.degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN d.degree >= 2
                     THEN 2000 * coalesce(t.n_triangles, 0)
                          // (d.degree * (d.degree - 1))
                     ELSE 0 END AS BIGINT) AS lcc_milli
    FROM deg d LEFT JOIN tpn t ON t.node = d.node
    """


@register(
    "graph_residual_clustering_coefficient",
    _residual_lcc_oracle(),
    doc="Per-node local clustering coefficient of the survivor "
        "residual graph — the companion statistic to "
        "graph_triangle_count_canonical: the triangle total says HOW "
        "MUCH residual clique structure survives family collapse; the "
        "LCC distribution says WHERE it sits (lcc ~ 1000: the node's "
        "near-miss neighborhood is itself a template family the "
        "bands=4 threshold missed — a candidate for a second, looser "
        "dedup pass; lcc ~ 0: chain/hub structure, transitive "
        "accidents that a dedup pass must NOT merge). Exact integer "
        "output: lcc_milli = 2000*tri(v) div (deg(v)*(deg(v)-1)) — "
        "no float division anywhere. Same degree-oriented wedge "
        "machinery as the triangle entry (per-triangle explode to 3 "
        "members), same bands=8 residual threshold (provably "
        "necessary — see graph_triangle_count_canonical), same "
        "at-scale bounds: O(sqrt(E)) wedge fan-out, never all-pairs",
)
def graph_residual_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_tj_project_spark.operators.graph import local_clustering

    pairs = shared_residual_pairs(spark, sf_dir)
    pairs = dd.narrow_persisted(pairs, "doc_a")
    # One definition of the statistic (operators/graph.local_clustering)
    # shared with the second-pass operator that consumes it.
    return local_clustering(pairs)


# =========================================================================
# The LCC second pass over the survivor residual graph
# =========================================================================


LCC_MERGE_THRESHOLD_MILLI = 600


def _lcc_second_pass_oracle(threshold: int = LCC_MERGE_THRESHOLD_MILLI) -> str:
    """One WITH chain restating every stage: the shared recursive-CTE
    canonicalize twin, the survivor bands=8 residual graph, the
    integer-exact LCC (same x<y<z triangle enumeration as the LCC
    entry's oracle), the high-node / both-endpoints-high edge filter,
    a SECOND recursive-CTE connected components over the merge edges,
    and the delta-manifest assembly (longest-doc/lowest-id new
    canonical, family count, summed doc mass)."""
    canon = dd.canonicalize_manifest_sql(
        "documents", "doc_id", "text", "n_chars", num_hashes=8, bands=4
    )
    bands_sql = dd.minhash_bands_sql(
        "docs", "doc_id", "text", num_hashes=8, bands=8
    )
    return f"""
    WITH RECURSIVE canon AS MATERIALIZED ({canon}),
    docs AS MATERIALIZED (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN canon c ON c.canonical_doc_id = d.doc_id
    ),
    sb AS MATERIALIZED (SELECT * FROM ({bands_sql}) raw_bands),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM sb a JOIN sb c ON a.band = c.band AND a.h = c.h
                         AND a.doc_id < c.doc_id
    ),
    deg AS MATERIALIZED (
      SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT doc_a AS n FROM pairs
        UNION ALL
        SELECT doc_b AS n FROM pairs
      ) ends GROUP BY n
    ),
    tri AS (
      SELECT unnest([e1.doc_a, e1.doc_b, e2.doc_b]) AS node
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_a AND e2.doc_b > e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b
    ),
    tpn AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM tri GROUP BY node
    ),
    high AS MATERIALIZED (
      SELECT d.node
      FROM deg d LEFT JOIN tpn t ON t.node = d.node
      WHERE d.degree >= 2
        AND (2000 * coalesce(t.n_triangles, 0)
             // (d.degree * (d.degree - 1))) >= {threshold}
    ),
    he AS MATERIALIZED (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN high a ON a.node = p.doc_a
      JOIN high b ON b.node = p.doc_b
    ),
    sym2 AS MATERIALIZED (
      SELECT doc_a AS n, doc_b AS m FROM he
      UNION
      SELECT doc_b AS n, doc_a AS m FROM he
    ),
    walk2(n, r) AS (
      SELECT n, m FROM sym2
      UNION
      SELECT w.n, s.m FROM walk2 w JOIN sym2 s ON s.n = w.r
    ),
    comp2 AS (
      SELECT n AS node, least(n, MIN(r)) AS merged_component_id
      FROM walk2 GROUP BY n
    ),
    mem AS MATERIALIZED (
      SELECT c2.merged_component_id, c.component_id,
             c.canonical_doc_id, c.canonical_n_chars, c.n_members
      FROM comp2 c2 JOIN canon c ON c.canonical_doc_id = c2.node
    ),
    grp AS (
      SELECT merged_component_id,
             CAST(COUNT(*) AS BIGINT) AS n_families,
             CAST(SUM(n_members) AS BIGINT) AS n_docs_total
      FROM mem GROUP BY merged_component_id
    ),
    newc AS (
      SELECT merged_component_id,
             canonical_doc_id AS new_canonical_doc_id
      FROM (
        SELECT merged_component_id, canonical_doc_id,
               row_number() OVER (PARTITION BY merged_component_id
                 ORDER BY canonical_n_chars DESC, canonical_doc_id) AS rn
        FROM mem
      ) ranked WHERE rn = 1
    )
    SELECT m.merged_component_id,
           m.component_id,
           m.canonical_doc_id AS survivor_doc_id,
           n.new_canonical_doc_id,
           g.n_families,
           g.n_docs_total
    FROM mem m
    JOIN newc n USING (merged_component_id)
    JOIN grp g USING (merged_component_id)
    """


@register(
    "dedup_lcc_second_pass",
    _lcc_second_pass_oracle(),
    doc="The LCC diagnostic closed into an operator (VERDICT r15 item "
        "5): survivors whose residual (bands=8) neighborhood is "
        "cliquish (degree >= 2, lcc_milli >= 600) are near-miss "
        "template families the bands=4 family threshold missed; merge "
        "them — connected components over residual edges whose BOTH "
        "endpoints clear the bar (chain/hub accidents excluded at the "
        "edge level) — and emit the DELTA manifest a rewrite stage "
        "applies: (merged_component_id, member family, its survivor, "
        "the group's new longest-doc canonical, family count, summed "
        "doc mass). Threshold 600 measured non-trivial and non-blob at "
        "both test scales (module docstring); the pass is IDEMPOTENT — "
        "apply_lcc_second_pass + re-run yields an empty delta, pinned "
        "at sf0.001 and sf0.01. Composes the shared once-per-corpus "
        "family manifest, the triangle guardrail's wedge machinery "
        "(operators/graph.local_clustering — one definition with the "
        "LCC entry), and the size-dispatched CC over a high-lcc edge "
        "slice that is tiny by construction. Oracle restates all six "
        "stages in one double-recursive WITH chain",
)
def dedup_lcc_second_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.graph import lcc_second_pass_delta

    d = load_table(spark, sf_dir, "documents")
    manifest = shared_family_manifest(spark, sf_dir)
    return lcc_second_pass_delta(
        d,
        manifest,
        threshold_milli=LCC_MERGE_THRESHOLD_MILLI,
        pairs=shared_residual_pairs(spark, sf_dir),
    )
