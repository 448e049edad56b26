"""fastText-style linear classifier (operators/classifier.py): planted
precision/recall, bigram feature firing, hash-space sanity, blank-doc
contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_tj_project_spark.operators.classifier import DEFAULT_WEIGHTS as _CLF_WEIGHTS
from etl_tj_project_spark.operators import classifier as clf


def _score(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w = clf.weight_table(spark, _CLF_WEIGHTS)
    return {
        r.doc_id: r
        for r in clf.score_documents(docs, w).collect()
    }


def test_marker_vocabulary_hashes_injectively(spark):
    """The shipped weight table must not collide inside itself — a
    collision silently merges two marker weights (legal fastText
    semantics, but not what the literal weight list above intends)."""
    w = clf.weight_table(spark, _CLF_WEIGHTS)
    assert w.count() == len(_CLF_WEIGHTS)


def test_planted_precision_recall_pinned(spark):
    """On a planted corpus with unambiguous quality/junk docs the
    classifier must reach precision = recall = 1.0 — pinned exactly, so
    a weight or threshold regression fails loudly."""
    good = [
        (0, "spark data query vector window stream join agg"),
        (1, "spark data spark data query query merge sort hash column"),
        (2, "vector stream window join agg merge spark data"),
    ]
    junk = [
        (10, "a a a the the slow slow small big row line"),
        (11, "the the a a slow small big slow row row line line"),
        (12, "a a a a the the the slow slow slow"),
    ]
    out = _score(spark, good + junk)
    tp = sum(1 for i, _ in good if out[i].quality)
    fp = sum(1 for i, _ in junk if out[i].quality)
    fn = sum(1 for i, _ in good if not out[i].quality)
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    assert precision == 1.0 and recall == 1.0, (precision, recall, out)


def test_bigram_features_fire(spark):
    """Two docs with IDENTICAL unigram multisets must score differently
    when their word order forms different bigrams — proof the n-gram
    features are real, not bag-of-words."""
    out = _score(
        spark,
        [
            (0, "spark data spark data"),   # 2x 'spark data' bigram +50
            (1, "spark spark data data"),   # same words, bigram only 1x
        ],
    )
    assert out[0].n_feats == out[1].n_feats == 7
    assert out[0].score_sum > out[1].score_sum


def test_blank_doc_kept_not_quality(spark):
    out = _score(spark, [(0, "   "), (1, "")])
    assert set(out) == {0, 1}
    for r in out.values():
        assert r.n_feats == 0 and r.score_sum == 0 and not r.quality


def test_oov_tokens_score_zero(spark):
    """Tokens outside the marker vocabulary that don't collide into a
    weighted bucket contribute exactly 0 (left join + coalesce)."""
    out = _score(spark, [(0, "zzqx unknownword anotherone")])
    r = out[0]
    assert r.n_feats == 5  # 3 unigrams + 2 bigrams
    # Collisions into weighted buckets are possible in principle; for
    # these specific strings none occur (deterministic md5), so:
    assert r.score_sum == 0 and not r.quality


def test_inference_plan_is_single_agg_with_broadcast(spark):
    """Scale shape: the weight lookup must broadcast (never shuffle the
    corpus by bucket) and the per-doc reduce is one aggregation."""
    docs = spark.createDataFrame(
        [(i, "spark data query the a") for i in range(50)],
        "doc_id long, text string",
    )
    w = clf.weight_table(spark, _CLF_WEIGHTS)
    plan = (
        clf.score_documents(docs, w)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_streaming_inference_matches_batch(spark, tmp_path):
    """The classifier is a streaming-safe plan: hashed-feature explode +
    stream-static broadcast weight join + per-doc aggregation runs as a
    REAL Structured Streaming query (file source, availableNow, memory
    sink, complete mode) and must equal the batch scores row-for-row —
    the shape an online ingest pipeline uses to score documents as they
    land."""
    from etl_tj_project_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    src = str(tmp_path / "docs")
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.coalesce(1).write.parquet(src)

    w = clf.weight_table(spark, _CLF_WEIGHTS)
    stream_docs = (
        spark.readStream.format("parquet").schema(docs.schema).load(src)
    )
    q = (
        clf.score_documents(stream_docs, w)
        .writeStream.format("memory")
        .queryName("clf_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = {
        r.doc_id: (r.n_feats, r.score_sum, r.quality)
        for r in spark.table("clf_stream").collect()
    }
    want = {
        r.doc_id: (r.n_feats, r.score_sum, r.quality)
        for r in clf.score_documents(docs, w).collect()
    }
    assert got == want
