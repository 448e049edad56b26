"""End-to-end training-corpus build: ingest → [boilerplate removal] →
quality/language filter → exact + near dedup → [model-based classifier
filter] → PII redaction → deterministic split assignment → atomic
multi-table manifest commit (bracketed stages are opt-in, round 11).

One function composes the engine's curation operators into the pipeline
a training-data team actually runs, publishing THREE tables in one
all-or-nothing snapshot (manifest.py): the curated corpus, the ingest
quarantine, and per-source stats. Every stage is the already-tested
operator — this module adds composition and the publication contract,
no new per-row logic.

Scale shape: stages 1-3 are row-local expressions (no shuffle until
dedup); exact dedup is one fingerprint shuffle; near-dup is the banded
LSH self-join (candidates only); split assignment is a salted-MD5
expression (re-runs give identical splits — no RNG); the commit is
a constant number of renames regardless of data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_tj_project_spark import manifest
from etl_tj_project_spark.operators.corpus import (
    QualityThresholds,
    prepare_corpus,
)


def build_training_corpus(
    spark: SparkSession,
    docs: DataFrame | str,
    out_root: str,
    *,
    languages: tuple[str, ...] = ("en",),
    thresholds: QualityThresholds | None = None,
    near_dup_threshold: float = 0.8,
    train_frac_hex: str = "cc",  # md5-prefix split bounds: 00..cb train
    val_hi_hex: str = "e6",  # cc..e5 val, e6..ff test (~80/10/10)
    boilerplate_min_docs: int | None = None,
    classifier_weights: list[tuple[str, int]] | None = None,
    lcc_merge_threshold_milli: int | None = None,
) -> dict:
    """Build and PUBLISH a training corpus snapshot; returns stage
    counts (small driver-side dict).

    ``docs`` is a documents-shaped DataFrame, or a path to JSONL shards
    (loaded via sources/jsonl.read_documents_jsonl — malformed lines
    land in the published quarantine table instead of dying).

    ``lcc_merge_threshold_milli`` (opt-in, round 17 — VERDICT r16 item
    1) switches the near-dedup stage to the CANONICAL family-manifest
    variant (COVERAGE.md's decision rule for training pipelines) and
    runs the LCC-driven second pass at that threshold: survivors whose
    residual neighborhoods are cliquish at lcc >= threshold merge into
    super-families, so near-miss template families the first-pass band
    threshold missed collapse to ONE published canonical. The merged
    family manifest is published as a fourth snapshot table
    (``dedup_manifest``) — it IS the dedup decision, and downstream
    jobs read it instead of recomputing LSH + CC (the
    shared-artifact contract, harness_dedup). Left ``None`` (default),
    near dedup stays the greedy Jaccard-verified drop and no manifest
    table is published.
    """
    from pyspark.sql import Observation

    if isinstance(docs, str):
        from etl_tj_project_spark.sources.jsonl import read_documents_jsonl

        clean, quarantine = read_documents_jsonl(spark, docs)
    else:
        clean, quarantine = docs, None

    # Input count via the Observation API: the metric is collected
    # DURING the publication job's scan below — at 100 TB an extra
    # count() here would be a second full pass over the ingest.
    clean_raw = clean
    # Input count via the Observation API — EXCEPT when an opt-in stage
    # is enabled: both opt-in stages self-join the ingest frame without
    # a persist boundary, and an Observation node reached through both
    # sides of an unpersisted self-join fails metric collection. There
    # the count is one explicit narrow scan (the documented cost of the
    # opt-in stages; at 100 TB observe on the pipeline spine instead).
    use_observe = (
        boilerplate_min_docs is None
        and classifier_weights is None
        and lcc_merge_threshold_milli is None
    )
    obs_in = Observation("corpus_input") if use_observe else None
    if use_observe:
        clean = clean.observe(obs_in, F.count(F.lit(1)).alias("n"))
    # Optional C4-style boilerplate removal BEFORE dedup (C4's order:
    # template text must vanish before fingerprints are computed, or
    # every page sharing a header near-dups every other page). The
    # chunk-frequency side of the self-join is built from the
    # UN-observed frame: an Observation node appearing on both sides of
    # a self-join fails metric collection (and would double-count).
    if boilerplate_min_docs is not None:
        from etl_tj_project_spark.operators.corpus import (
            boilerplate_chunk_stats,
        )

        stats = boilerplate_chunk_stats(
            clean_raw, min_docs=boilerplate_min_docs
        ).filter(F.col("n_kept") > 0)
        clean = (
            clean.drop("text")
            .join(stats.select("doc_id", "kept_text"), "doc_id")
            .withColumnRenamed("kept_text", "text")
        )
    dedup_manifest = None
    if lcc_merge_threshold_milli is not None:
        from etl_tj_project_spark.operators.corpus import (
            prepare_corpus_canonical,
        )

        curated, dedup_manifest = prepare_corpus_canonical(
            clean,
            th=thresholds,
            languages=languages,
            lcc_merge_threshold_milli=lcc_merge_threshold_milli,
        )
    else:
        curated = prepare_corpus(
            clean,
            th=thresholds,
            languages=languages,
            near_dup_threshold=near_dup_threshold,
        )
    # Optional model-based filter AFTER the rule-based one and after
    # dedup (the two-stage curation: cheap rules first, model second;
    # post-dedup so the model scores each surviving doc exactly once).
    if classifier_weights is not None:
        from etl_tj_project_spark.operators.corpus import (
            classifier_quality_filter,
        )

        curated = classifier_quality_filter(curated, classifier_weights)
    # PII redaction AFTER dedup (dedup must see original bytes so
    # fingerprints match across copies; redaction must not create
    # artificial near-dups).
    redacted = curated.withColumn(
        "text", F.regexp_replace(F.col("text"), "[0-9][0-9][0-9]+", "<NUM>")
    )
    h2 = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
    )
    final = redacted.withColumn(
        "split",
        F.when(h2 < train_frac_hex, "train")
        .when(h2 < val_hi_hex, "val")
        .otherwise("test"),
    )

    stats = final.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )
    tables = {"corpus": final, "split_stats": stats}
    if quarantine is not None:
        tables["quarantine"] = quarantine
    if dedup_manifest is not None:
        tables["dedup_manifest"] = dedup_manifest
    version = manifest.commit(out_root, tables)

    published = manifest.read_table(spark, out_root, "corpus")
    n_out = published.count()
    n_quarantined = (
        manifest.read_table(spark, out_root, "quarantine").count()
        if quarantine is not None
        else 0
    )
    n_in = (
        int(obs_in.get["n"])
        if use_observe
        else clean_raw.select("doc_id").count()
    )
    return {
        "version": version,
        "n_input": n_in,
        "n_published": n_out,
        "n_quarantined": n_quarantined,
        "n_dropped": n_in - n_out,
    }
