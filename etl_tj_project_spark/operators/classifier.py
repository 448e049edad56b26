"""fastText-style linear quality classifier — INFERENCE over a corpus.

The model-based document filter every modern LLM data pipeline runs
after the rule-based one (harness_relational.corpus_quality_filter is
the rule-based sibling): hashed n-gram features -> fixed integer weight
table -> per-document dot product -> mean-score threshold. This module
is the inference engine; the weight table is an input (a real pipeline
ships one trained offline — fastText's supervised classifier distills
to exactly this shape: feature hashing, a linear layer, a threshold).

Everything is native Column expressions — no Python in the data path:

* features: lowercase whitespace unigrams + adjacent-pair bigrams,
  built with split/transform/concat inside the JVM;
* hashing trick: feature -> bucket via the first 8 hex chars of md5,
  mod n_buckets — the PORTABLE hash both engines compute identically
  (the idiom of the harness_stats sketches), so collisions (the defining
  property of hashed features) are deterministic and the whole
  inference is oracle-hash-checkable;
* weight lookup: broadcast join on the bucket id (the weight table is
  KB-sized at any vocabulary — fastText's own bucket default is 2M
  rows of int weights);
* score: exact BIGINT sum of matched weights; the decision threshold
  compares score*SCALE >= n_features*threshold in integers (mean-score
  thresholding without a single float).

Scale shape at 100 TB: one narrow (doc_id, feature-bucket) explode
feeding ONE per-doc aggregation shuffle; the weight table broadcasts.
No reference citation — the reference has no ML surface at all
(SURVEY §2.6); this is north-star LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Feature-hash space. Small enough that the planted-fixture test can
# reason about collisions, big enough that the marker vocabulary below
# maps injectively (verified in tests/test_classifier.py).
N_BUCKETS = 1024

# Threshold: quality <=> score_sum * SCORE_SCALE >= n_feats * THRESHOLD
# (i.e. mean feature weight >= THRESHOLD/SCORE_SCALE = 0.12), in exact
# integer arithmetic.
SCORE_SCALE = 100
THRESHOLD = 12

# The shipped "model": integer marker weights over the corpus
# vocabulary (a real pipeline trains these offline; inference shape is
# what the classifier registry entries pin). Positive = content-bearing
# engine terms, negative = filler; bigram features catch degenerate
# repetition. (Chosen collision-free under the md5 bucket hash — "join"
# and "a a" collide with "the" and "a" at N_BUCKETS=1024, so "group"
# and "a the" stand in; injectivity is pinned in tests/test_classifier.py.)
DEFAULT_WEIGHTS: list[tuple[str, int]] = [
    ("spark", 40), ("data", 30), ("query", 30), ("vector", 25),
    ("window", 20), ("stream", 20), ("group", 15), ("agg", 15),
    ("merge", 15), ("sort", 10), ("hash", 10), ("column", 10),
    ("slow", -40), ("small", -25), ("big", -25), ("the", -20),
    ("a", -30), ("row", -10), ("line", -10),
    ("spark data", 50), ("fast fast", 30), ("slow slow", -60),
    ("table table", -30), ("the the", -40), ("a the", -50),
]


def md5_bucket(col: F.Column, mod: int = N_BUCKETS) -> F.Column:
    """First 8 md5 hex chars as non-negative int64 mod ``mod`` — the
    portable cross-engine hash, shared by the harness_stats sketches."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % mod


def md5_bucket_sql(expr: str, mod: int = N_BUCKETS) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT) % {mod}"


def tokens(text_col: str) -> F.Column:
    """Lowercased whitespace tokenization as array<string> (empty for
    blank text). Materialize this ONCE per row (a projection) before
    building n-grams from it: an inline tokenization expression
    referenced inside a `transform` lambda is re-evaluated per lambda
    ELEMENT — O(words^2) regex splits per document (measured 6.5x on
    the sf0.1 corpus before this split was staged)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return F.when(F.trim(text_col) == "", F.array()).otherwise(toks)


def ngram_features(tok_col: str) -> F.Column:
    """Unigrams + adjacent bigrams from an ALREADY-MATERIALIZED token
    array column (see :func:`tokens`), as one array<string>."""
    bi = F.when(F.size(tok_col) < 2, F.array()).otherwise(
        F.expr(
            f"transform(sequence(0, size({tok_col}) - 2), "
            f"i -> concat({tok_col}[i], ' ', {tok_col}[i + 1]))"
        )
    )
    return F.concat(F.col(tok_col), bi)


def weight_table(
    spark: SparkSession, word_weights: list[tuple[str, int]]
) -> DataFrame:
    """(word, int_weight) pairs -> (bucket, wt) with hash collisions
    inside the vocabulary resolved by summation (fastText semantics:
    colliding features share one bucket weight)."""
    w = spark.createDataFrame(word_weights, "word string, wt long")
    return (
        w.select(md5_bucket(F.col("word")).alias("bucket"), "wt")
        .groupBy("bucket")
        .agg(F.sum("wt").alias("wt"))
    )


def score_documents(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document linear score and quality decision.

    Returns (id_col, n_feats, score_sum, quality): n_feats = feature
    count (unigrams + bigrams), score_sum = exact BIGINT dot product
    against the hashed weight table (unmatched buckets contribute 0),
    quality = mean-weight threshold decision in integer arithmetic.
    Documents with no features (blank text) carry n_feats = 0,
    score_sum = 0, quality = false — kept, not dropped, so the filter's
    row count is the corpus row count."""
    from etl_tj_project_spark.operators.dedup import _ensure_parallelism

    # Spread the feature explode (r17 optimization, guide §2.5): on a
    # single-file corpus the tokenize + unigram/bigram Generate — the
    # inference hot path — otherwise runs as ONE scan task; no-op on
    # well-split inputs.
    staged = _ensure_parallelism(docs).select(
        id_col, tokens(text_col).alias("__toks")
    )
    feats = staged.select(
        id_col, F.explode_outer(ngram_features("__toks")).alias("feat")
    )
    scored = (
        feats.withColumn("bucket", md5_bucket(F.col("feat")))
        .join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("feat").alias("n_feats"),
            F.coalesce(F.sum("wt"), F.lit(0)).cast("long").alias("score_sum"),
        )
    )
    return scored.withColumn(
        "quality",
        (F.col("score_sum") * SCORE_SCALE >= F.col("n_feats") * THRESHOLD)
        & (F.col("n_feats") > 0),
    )
