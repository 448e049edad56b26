"""Round-12 pack: the two SQL surfaces Spark 4 added (recursive CTEs,
correlated LATERAL subqueries), asymmetric containment dedup, RAG-style
overlapping chunking, a window-only CUSUM changepoint detector, and a
Matryoshka truncated-dimension recall measurement.

Why these: the recursive CTE and LATERAL entries pin genuinely new
Spark-4 query surface the registry did not exercise (khop unrolls
frontier joins by hand; W1 does top-k with a window — these are the
declarative forms a user migrating real SQL will write). Containment is
the near-dup relation Jaccard systematically misses (quote-inclusion:
small doc inside big doc has high containment, low Jaccard) and is the
documented RealNewsLike/C4 subset rule. Overlapping chunking is the
retrieval-corpus preprocessing step (fixed token windows, fixed stride).
CUSUM is the classic sequential changepoint statistic, here computed
with PURE window functions via the identity
``max(0, S_{t-1} + x_t) == R_t - min(0, min_{k<=t} R_k)``
(running sum minus clipped running min) — no recursion, no UDF, two
window passes that scale as ordinary partitioned sorts. Matryoshka
prefix-dim recall is the measurement an embedding pipeline runs before
committing to truncated vectors (MRL-style): how much of full-dim
top-10 survives at 1/4 the dimensions.

Cross-engine determinism rules (house conventions):
* every rate/ratio is BIGINT `div` BIGINT (containment_milli,
  recall_milli, cusum's mean_milli) — no float decides membership;
* every ranking carries a unique id tie-break, NULLS LAST pinned on
  both sides;
* cosine arithmetic uses functions/vectors.py and its SQL twins
  (identical left-to-right accumulation order on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_tj_project_spark.functions.vectors import (
    cosine_similarity,
    cosine_similarity_sql,
)
from etl_tj_project_spark.harness import register
from etl_tj_project_spark.operators import dedup as dd
from etl_tj_project_spark.reuse import ARTIFACT_EVENTS, shared_artifact  # noqa: F401
from etl_tj_project_spark.sources.testdata import load_table

# =========================================================================
# Spark 4 SQL surface: recursive CTE + correlated LATERAL
# =========================================================================

# The supplier-key binary tree: parent(k) = k div 2, root = 1. A derived
# hierarchy (the testdata has no explicit parent column), but the QUERY
# under test is the real thing: a distributed recursive CTE whose
# per-iteration work is a self-union that drains as nodes reach the
# root. Depth is log2(N) — 14 levels at sf1.0's 10k suppliers — and
# each level's frontier halves nothing (every key climbs until 1), so
# total recursive rows are N * log2(N): linear-ish, never quadratic.
_RECURSIVE_SQL = """
    WITH RECURSIVE anc AS (
      SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
             CAST(s_suppkey AS BIGINT) AS node,
             CAST(0 AS BIGINT)         AS depth,
             CAST(0 AS BIGINT)         AS anc_sum
      FROM {supplier}
      UNION ALL
      SELECT s_suppkey, {half}, depth + 1, anc_sum + ({half})
      FROM anc WHERE node > 1
    )
    SELECT s_suppkey,
           CAST(max(depth) AS BIGINT)   AS depth_to_root,
           CAST(max(anc_sum) AS BIGINT) AS anc_key_sum
    FROM anc GROUP BY s_suppkey
"""


@register(
    "recursive_cte_tree_depth",
    _RECURSIVE_SQL.format(supplier="supplier", half="node // 2"),
    doc="WITH RECURSIVE ancestor climb over the supplier-key binary "
        "tree (parent = key div 2): per-node depth-to-root and "
        "ancestor-key sum. Exercises Spark 4's recursive CTE operator "
        "(UnionLoop) — the declarative twin of khop_reachability's "
        "hand-unrolled frontier joins. Work is N*log2(N) recursive "
        "rows; each iteration is one distributed self-union, "
        "depth <= 14 at sf1.0",
)
def recursive_cte_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "r12_supplier"
    )
    return spark.sql(
        _RECURSIVE_SQL.format(supplier="r12_supplier", half="node div 2")
    )


_LATERAL_SQL = """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM {nation} n,
    LATERAL (
      SELECT c_custkey, c_acctbal
      FROM {customer} c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) t
"""


@register(
    "lateral_correlated_topk",
    _LATERAL_SQL.format(nation="nation", customer="customer"),
    doc="Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 "
        "customers by account balance per nation, written the way a "
        "migrating SQL user writes it. Catalyst rewrites the lateral "
        "into a ranked join (DomainJoin -> window under the hood), so "
        "the physical plan matches the w1_topk_per_group shape — the "
        "entry pins that the DECLARATIVE form stays available and "
        "correct. Unique-key tie-break (c_custkey) keeps the LIMIT "
        "deterministic on both engines",
)
def lateral_correlated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("r12_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "r12_customer"
    )
    return spark.sql(
        _LATERAL_SQL.format(nation="r12_nation", customer="r12_customer")
    )


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
# RAG-style overlapping token chunking
# =========================================================================

_CHUNK_W = 32   # tokens per chunk
_CHUNK_S = 24   # stride (overlap = W - S = 8 tokens)


@register(
    "chunk_documents_overlap",
    rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(range(0, len(toks), {_CHUNK_S})) AS start_tok
      FROM t
    )
    SELECT doc_id,
           CAST(start_tok // {_CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT)               AS start_tok,
           CAST(len(toks[start_tok + 1 : start_tok + {_CHUNK_W}])
                AS BIGINT)                         AS n_tokens,
           md5(array_to_string(
               toks[start_tok + 1 : start_tok + {_CHUNK_W}], ' '))
                                                   AS chunk_md5
    FROM c
    """,
    doc=f"Retrieval-corpus chunking: fixed {_CHUNK_W}-token windows at "
        f"stride {_CHUNK_S} ({_CHUNK_W - _CHUNK_S}-token overlap so no "
        "sentence is split without context on either side), final "
        "short chunk kept. One projection + one posexplode — "
        "per-document work, embarrassingly parallel, no shuffle at "
        "all at any corpus size (the md5 chunk id is what a downstream "
        "embedding/dedup stage keys on). Case-PRESERVING tokenization "
        "(chunks feed an embedder; lowercasing is the embedder's "
        "choice, not the chunker's)",
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.when(
        F.trim("text") == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    staged = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    starts = F.sequence(
        F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_S)
    )
    chunked = staged.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start_tok")
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok") + 1, _CHUNK_W)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# =========================================================================
# CUSUM changepoint over daily event counts (window-only)
# =========================================================================

@register(
    "cusum_changepoint_daily",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type,
             CAST(sum(cnt) * 1000 // count(*) AS BIGINT) AS mean_milli
      FROM d GROUP BY 1
    ), x AS (
      SELECT d.event_type, d.day, d.cnt, m.mean_milli,
             d.cnt * 1000 - m.mean_milli - (m.mean_milli // 10) AS dev
      FROM d JOIN m USING (event_type)
    ), r AS (
      SELECT event_type, day, cnt, mean_milli,
             sum(dev) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS run_sum
      FROM x
    )
    SELECT event_type, day, cnt,
           CAST(run_sum - least(
                  min(run_sum) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS UNBOUNDED PRECEDING), 0)
                AS BIGINT) AS cusum_milli,
           CAST(CASE WHEN run_sum - least(
                  min(run_sum) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS UNBOUNDED PRECEDING), 0)
                  > mean_milli THEN 1 ELSE 0 END AS BIGINT)
             AS changepoint_flag
    FROM r
    """,
    doc="One-sided CUSUM changepoint statistic over per-type daily "
        "event counts, slack k = mean/10, flag when the statistic "
        "exceeds the per-type mean. The textbook recursion "
        "S_t = max(0, S_{t-1} + x_t) looks inherently sequential, but "
        "S_t == R_t - min(0, min_{k<=t} R_k) (R = plain running sum; "
        "induction: max(0, R_{t-1} - m_{t-1} + x_t) = R_t - "
        "min(m_{t-1}, R_t) = R_t - m_t), so it is TWO stacked window "
        "functions — each a partitioned sort, fully distributed, no "
        "UDF, no iteration. All arithmetic in exact milli-integers "
        "(mean via BIGINT div), so both engines agree bit-for-bit",
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    m = d.groupBy("event_type").agg(
        F.expr("sum(cnt) * 1000 div count(*)").cast("long").alias("mean_milli")
    )
    x = d.join(m, "event_type").withColumn(
        "dev",
        F.col("cnt") * 1000 - F.col("mean_milli")
        - F.expr("mean_milli div 10"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = x.withColumn("run_sum", F.sum("dev").over(w))
    cusum = F.col("run_sum") - F.least(F.min("run_sum").over(w), F.lit(0))
    return r.select(
        "event_type",
        "day",
        "cnt",
        cusum.cast("long").alias("cusum_milli"),
        F.when(cusum > F.col("mean_milli"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("changepoint_flag"),
    )


# =========================================================================
# Matryoshka truncated-dimension recall
# =========================================================================

_MRL_QUERIES = 20   # vec_id < 20 are the query set
_MRL_PREFIX = 16    # truncated dimension count (full = 64)
_MRL_K = 10


@register(
    "embedding_matryoshka_prefix_recall",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id < {_MRL_QUERIES}
    ), p AS (
      SELECT q.qid, e.vec_id,
             {cosine_similarity_sql('e.embedding', 'q.qv')} AS cf,
             {cosine_similarity_sql(
                 f'e.embedding[1:{_MRL_PREFIX}]', f'q.qv[1:{_MRL_PREFIX}]'
             )} AS cp
      FROM embeddings e, q
      WHERE e.vec_id <> q.qid
    ), r AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cf DESC NULLS LAST, vec_id) AS rf,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cp DESC NULLS LAST, vec_id) AS rp
      FROM p
    )
    SELECT qid AS query_id,
           CAST(sum(CASE WHEN rf <= {_MRL_K} AND rp <= {_MRL_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(sum(CASE WHEN rf <= {_MRL_K} AND rp <= {_MRL_K}
                    THEN 1 ELSE 0 END) * 1000 // {_MRL_K} AS BIGINT)
             AS recall_milli
    FROM r GROUP BY qid
    """,
    doc=f"Matryoshka (MRL) truncation audit: for {_MRL_QUERIES} query "
        f"vectors, how much of the full-64-dim cosine top-{_MRL_K} "
        f"survives when ranking by the first {_MRL_PREFIX} dims only — "
        "the measurement that decides whether the ANN index can store "
        "1/4 the floats. One broadcast of the query set against a "
        "fully parallel scan, two row_number windows partitioned by "
        "query (each a bounded per-query sort), one aggregate; at "
        "100 TB the candidate scan is the only big input and it "
        "shuffles once on qid for the window. Cosine accumulation "
        "order identical on both engines (functions/vectors.py); "
        "unique vec_id tie-break, NULLS LAST pinned",
)
def embedding_matryoshka_prefix_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_tj_project_spark.functions.vectors import dot_product, l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    # Norms hoisted to per-VECTOR projections (computed once per row on
    # each side) instead of per pair inside cosine_similarity — at
    # n_vectors x n_queries pairs that saves 2 of the 3 dot products
    # per ranking column. The arithmetic per pair is unchanged
    # (same doubles multiplied/divided in the same order), so the
    # inline-norm oracle SQL stays bit-identical.
    pre = F.slice("embedding", 1, _MRL_PREFIX)
    cand = e.select(
        "vec_id",
        "embedding",
        pre.alias("emb_p"),
        l2_norm("embedding").alias("nf"),
        l2_norm(pre).alias("np"),
    )
    q = F.broadcast(
        cand.filter(F.col("vec_id") < _MRL_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("emb_p").alias("qv_p"),
            F.col("nf").alias("qnf"),
            F.col("np").alias("qnp"),
        )
    )
    pairs = cand.crossJoin(q).filter(F.col("vec_id") != F.col("qid"))
    den_f = F.col("nf") * F.col("qnf")
    den_p = F.col("np") * F.col("qnp")
    scored = pairs.select(
        "qid",
        "vec_id",
        F.when(den_f > 0, dot_product("embedding", "qv") / den_f).alias("cf"),
        F.when(den_p > 0, dot_product("emb_p", "qv_p") / den_p).alias("cp"),
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("cf").desc_nulls_last(), "vec_id"
    )
    wp = Window.partitionBy("qid").orderBy(
        F.col("cp").desc_nulls_last(), "vec_id"
    )
    ranked = scored.select(
        "qid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    hit = F.when(
        (F.col("rf") <= _MRL_K) & (F.col("rp") <= _MRL_K), F.lit(1)
    ).otherwise(F.lit(0))
    return ranked.groupBy(F.col("qid").alias("query_id")).agg(
        F.sum(hit).cast("long").alias("n_overlap"),
        F.expr(
            f"sum(CASE WHEN rf <= {_MRL_K} AND rp <= {_MRL_K} "
            f"THEN 1 ELSE 0 END) * 1000 div {_MRL_K}"
        )
        .cast("long")
        .alias("recall_milli"),
    )


# =========================================================================
# Round-12 pack, wave 2: LOCF/NOCB gap fill, business-day arithmetic,
# log2-bucket histogram
# =========================================================================

@register(
    "locf_backfill_pack",
    """
    WITH base AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END
               AS value_masked
      FROM events
    )
    SELECT event_id, user_id, value_masked,
           last_value(value_masked IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS locf_value,
           first_value(value_masked IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS nocb_value
    FROM base
    """,
    doc="LOCF / NOCB gap fill — the hypertable sensor-series repair "
        "pair (last-observation-carried-forward and "
        "next-observation-carried-backward). 'Missing' is a SEMANTIC "
        "rule (error events carry no measurement), not synthesized "
        "NULLs. Both directions are IGNORE NULLS window functions over "
        "one (user, time) sort — Spark evaluates the two frames off "
        "the same partitioned sort, one exchange total; "
        "complementary to time_bucket_interpolate (which fills by "
        "linear interpolation between neighbors, this carries "
        "observations). Unique (ts_us, event_id) tie-break",
)
def locf_backfill_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value_masked"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    locf = F.last("value_masked", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nocb = F.first("value_masked", ignorenulls=True).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return base.select(
        "event_id",
        "user_id",
        "value_masked",
        locf.alias("locf_value"),
        nocb.alias("nocb_value"),
    )


@register(
    "business_day_pack",
    """
    WITH d AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
             isodow(CAST(o_orderdate AS DATE)) - 1 AS wd
      FROM orders
    )
    SELECT o_orderkey, order_date,
           order_date + CAST(CASE wd WHEN 4 THEN 3 WHEN 5 THEN 2 ELSE 1 END
                             AS INTEGER) AS next_bday,
           order_date + CAST((CASE wd WHEN 5 THEN 2 WHEN 6 THEN 1 ELSE 0 END)
                             + 7 AS INTEGER) AS bday_plus5,
           CAST(len(list_filter(range(1, 31),
                i -> isodow(order_date + i::INTEGER) <= 5)) AS BIGINT)
             AS bdays_next30
    FROM d
    """,
    doc="Business-day arithmetic pack (weekend-skip; holiday tables "
        "would broadcast-anti-join on top): next business day "
        "(Fri +3 / Sat +2 / else +1), plus-5-business-days (roll a "
        "weekend start to Monday, then one calendar week — the "
        "standard settlement-date rule), and the business-day count in "
        "the next 30 calendar days via an unrolled 30-element "
        "filter(sequence) — per-row expression work, no shuffle beyond "
        "the scan. Weekday convention pinned cross-engine: Spark "
        "weekday() is 0=Monday, DuckDB isodow()-1 matches it exactly",
)
def business_day_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.expr("weekday(CAST(o_orderdate AS DATE))").alias("wd"),
    )
    next_off = (
        F.when(F.col("wd") == 4, 3).when(F.col("wd") == 5, 2).otherwise(1)
    )
    roll_off = (
        F.when(F.col("wd") == 5, 2).when(F.col("wd") == 6, 1).otherwise(0)
    )
    return d.select(
        "o_orderkey",
        "order_date",
        F.expr(
            "date_add(order_date, CASE wd WHEN 4 THEN 3 WHEN 5 THEN 2 "
            "ELSE 1 END)"
        ).alias("next_bday"),
        F.expr(
            "date_add(order_date, (CASE wd WHEN 5 THEN 2 WHEN 6 THEN 1 "
            "ELSE 0 END) + 7)"
        ).alias("bday_plus5"),
        F.expr(
            "size(filter(sequence(1, 30), "
            "i -> weekday(date_add(order_date, i)) < 5))"
        )
        .cast("long")
        .alias("bdays_next30"),
    )


@register(
    "log2_bucket_histogram",
    """
    WITH c AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    )
    SELECT CAST(length(printf('%b', cents)) - 1 AS BIGINT) AS log2_bucket,
           CAST(count(*) AS BIGINT)  AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM c GROUP BY 1
    """,
    doc="Power-of-two (log2) bucket histogram of order totals — the "
        "long-tail profiling shape linear buckets "
        "(histogram_fixed_buckets) can't show. floor(log2(x)) computed "
        "EXACTLY as binary-representation length minus one (Spark "
        "length(bin(x)), DuckDB length(printf('%b', x))) — no floating "
        "log whose rounding could flip a value at a bucket boundary; "
        "money through DECIMAL(18,2) cents so the sums are exact "
        "BIGINTs. One scan, one aggregate over ~30 buckets",
)
def log2_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.schemas import AMOUNT

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast(AMOUNT) * 100).cast("long")
    return (
        o.select(cents.alias("cents"))
        .groupBy(
            (F.length(F.bin(F.col("cents"))) - 1)
            .cast("long")
            .alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )
    )


# =========================================================================
# Round-12 pack, wave 3: Spark 4 SQL pipe syntax + collation semantics
# =========================================================================

_PIPE_SQL = """
    FROM {orders}
    |> WHERE o_orderstatus = 'F'
    |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DECIMAL(18,2)) AS revenue
       GROUP BY o_orderpriority
    |> WHERE n_orders > 100
    |> SELECT o_orderpriority, n_orders, revenue
"""


@register(
    "sql_pipe_syntax_agg",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
             AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    HAVING count(*) > 100
    """,
    doc="Spark 4 SQL pipe syntax (|> operators): filter |> aggregate "
        "|> post-aggregation filter |> projection, chained in reading "
        "order the way the GoogleSQL pipe paper argues analysts think. "
        "Parses to the IDENTICAL logical plan as the nested form (the "
        "oracle restates it as plain ANSI WHERE/GROUP BY/HAVING), so "
        "this pins that the surface exists and optimizes normally — "
        "pushdown, partial aggregation, the works. Money through "
        "DECIMAL(18,2) before summing, per house rule",
)
def sql_pipe_syntax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("r12_orders")
    return spark.sql(_PIPE_SQL.format(orders="r12_orders"))


@register(
    "collation_lcase_semantics",
    """
    WITH t AS (
      SELECT p_type,
             CASE WHEN p_partkey % 2 = 0 THEN lower(p_type)
                  ELSE upper(p_type) END AS p_type_mixed
      FROM part
    )
    SELECT CAST(count(DISTINCT p_type_mixed) AS BIGINT)
             AS distinct_binary,
           CAST(count(DISTINCT lower(p_type_mixed)) AS BIGINT)
             AS distinct_lcase,
           CAST(sum(CASE WHEN lower(p_type_mixed) = lower(p_type)
                    THEN 1 ELSE 0 END) AS BIGINT) AS eq_lcase_rows
    FROM t
    """,
    doc="Spark 4 collation semantics (UTF8_LCASE): distinct-count and "
        "equality under a case-insensitive collation vs binary "
        "collation, over a deterministically case-mangled p_type "
        "(even keys lowered, odd keys uppered). The Spark side uses "
        "REAL collated expressions — collate(x, 'UTF8_LCASE') drives "
        "the distinct-hash and the = comparison — while the oracle "
        "restates the same semantics with lower() (exactly equivalent "
        "on this ASCII corpus; ICU edge cases like dotted-I are the "
        "collation's value-add and are out of testdata scope). "
        "Scalars only — collated GROUP BY keys pick a nondeterministic "
        "case representative, so the entry returns counts, never a "
        "collated key column",
)
def collation_lcase_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_partkey") % 2 == 0, F.lower("p_type")
    ).otherwise(F.upper("p_type"))
    t = p.select("p_type", mixed.alias("p_type_mixed"))
    lc = F.expr("collate(p_type_mixed, 'UTF8_LCASE')")
    return t.agg(
        F.countDistinct("p_type_mixed").cast("long").alias("distinct_binary"),
        F.countDistinct(lc).cast("long").alias("distinct_lcase"),
        F.sum(
            F.when(
                lc == F.expr("collate(p_type, 'UTF8_LCASE')"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("eq_lcase_rows"),
    )


# =========================================================================
# Round-12 pack, wave 4: integration entries — tokenizer fertility,
# dedup-cluster canonicalization, bigram continuation fluency
# =========================================================================

def _bpe_seq_fold_sql(merges) -> str:
    """DuckDB greedy-fold expression for one word under a merge table
    (same representation as harness_llmdata2._bpe_encode_oracle)."""
    seq = "regexp_replace(word, '(.)', '|\\1|', 'g')"
    for a, b in merges:
        seq = f"replace({seq}, '|{a}||{b}|', '|{a}{b}|')"
    return seq


def _fertility_oracle() -> str:
    from etl_tj_project_spark.harness_llmdata2 import BPE_FIXED_MERGES

    seq = _bpe_seq_fold_sql(BPE_FIXED_MERGES)
    return f"""
    WITH words AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ), wl AS (
      SELECT lang, word, count(*) AS wfreq FROM words GROUP BY 1, 2
    ), vocab AS (SELECT DISTINCT word FROM words),
    enc AS (
      SELECT word,
             len(str_split(trim({seq}, '|'), '||')) AS n_pieces
      FROM vocab
    )
    SELECT lang,
           CAST(sum(wfreq) AS BIGINT)            AS n_words,
           CAST(sum(wfreq * n_pieces) AS BIGINT) AS n_pieces_total,
           CAST(sum(wfreq * n_pieces) * 1000 // sum(wfreq) AS BIGINT)
             AS fertility_milli
    FROM wl JOIN enc USING (word) GROUP BY lang
    """


@register(
    "bpe_fertility_by_lang",
    _fertility_oracle(),
    doc="Tokenizer FERTILITY audit (pieces per word) per language under "
        "the fixed BPE merge table — the measurement that decides "
        "whether a tokenizer underserves a language (high fertility = "
        "more pieces per word = fewer effective context tokens; the "
        "multilingual-tokenizer fairness number). Encoding runs once "
        "over the distinct-word VOCABULARY (operators/bpe."
        "encode_corpus_vocab — one exact-dedup shuffle, all merge "
        "folds in one expression tree), then joins back to per-(lang, "
        "word) counts; fertility is BIGINT-div milli. Integrates three "
        "families: tokenizer, corpus stats, language analysis",
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.harness_llmdata2 import BPE_FIXED_MERGES
    from etl_tj_project_spark.operators import bpe as bpe_ops

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word"),
    )
    wl = words.groupBy("lang", "word").agg(
        F.count(F.lit(1)).alias("wfreq")
    )
    enc = bpe_ops.encode_corpus_vocab(docs, BPE_FIXED_MERGES).select(
        "word", F.size("symbols").alias("n_pieces")
    )
    return (
        wl.join(enc, "word")
        .groupBy("lang")
        .agg(
            F.sum("wfreq").cast("long").alias("n_words"),
            F.sum(F.col("wfreq") * F.col("n_pieces"))
            .cast("long")
            .alias("n_pieces_total"),
            F.expr("sum(wfreq * n_pieces) * 1000 div sum(wfreq)")
            .cast("long")
            .alias("fertility_milli"),
        )
    )


def _canonicalize_oracle() -> str:
    # Delegates to the shared SQL twin in operators/dedup.py (verified
    # byte-identical modulo whitespace to the r12 inline form) so that
    # harness_r13's composed oracle can build on the SAME text without
    # importing this pack — the r13 circular-import lesson (ADVICE r13).
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


# ---------------------------------------------------------------------------
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
# (ARTIFACT_EVENTS, re-exported here for bench.py) live in reuse.py.


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
    from etl_tj_project_spark.operators import dedup as dd_ops

    def build():
        d = load_table(spark, sf_dir, "documents")
        manifest = shared_family_manifest(spark, sf_dir)
        reps = d.join(
            manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        return dd_ops.lsh_candidate_pairs(reps, "doc_id", "text", 8, 8)

    return shared_artifact(
        spark, sf_dir, "residual_pairs", ["doc_a", "doc_b"], build
    )


@register(
    "bigram_fluency_score",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS t
      FROM documents
    ), bi AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, len(t))) AS r(i)
    ), uni AS (
      SELECT w1 AS w, count(*) AS c1 FROM bi GROUP BY 1
    ), big AS (
      SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2
    ), scored AS (
      SELECT b.doc_id, big.c2 * 1000 // uni.c1 AS cont_milli
      FROM bi b JOIN big USING (w1, w2) JOIN uni ON uni.w = b.w1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(cont_milli) // count(*) AS BIGINT)
             AS fluency_milli
    FROM scored GROUP BY doc_id
    """,
    doc="Bigram continuation fluency — the KenLM-shaped quality signal "
        "without floating logs: for each adjacent word pair, the "
        "corpus-wide continuation probability P(w2|w1) = c(w1 w2)/c(w1) "
        "in exact milli-integers, averaged per document. Documents "
        "whose bigrams are corpus-typical score high; shuffled or "
        "machine-garbled text scores low (its bigrams are rare "
        "continuations of their heads). Two corpus-stat shuffles "
        "(unigram heads, bigrams) + one candidate join back; the "
        "integer mean (sum div count) keeps both engines bit-identical "
        "where a log-space perplexity would hinge on libm rounding. "
        "Docs with < 2 tokens have no bigrams and drop out, documented",
)
def bigram_fluency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.when(
        F.trim("text") == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    toks = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 2)
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = bi.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    big = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        bi.join(big, ["w1", "w2"])
        .join(uni, bi["w1"] == uni["w"])
        .select("doc_id", F.expr("c2 * 1000 div c1").alias("cont_milli"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(cont_milli) div count(*)")
        .cast("long")
        .alias("fluency_milli"),
    )


# =========================================================================
# Round-12 pack, wave 5: source-format surface — XML roundtrip (Spark 4
# built-in XML source), parquet mergeSchema physical evolution
# =========================================================================

@register(
    "xml_write_roundtrip",
    """
    SELECT doc_id,
           concat('a<b>&amp;</b> "', source, '" &x') AS hazard,
           CASE WHEN lang = 'en' THEN NULL ELSE lang END AS maybe_null,
           CAST(n_chars AS DECIMAL(18,2)) AS n_chars_dec,
           DATE '2024-01-01' + CAST(doc_id % 7 AS INT) AS shard_date
    FROM documents WHERE doc_id < 500
    """,
    doc="XML export/import fidelity under the correctness gate — the "
        "fourth leg of the format matrix (parquet/ORC/CSV/JSONL "
        "roundtrips exist), exercising Spark 4's BUILT-IN xml source "
        "(the spark-xml package merged into core). The staged frame "
        "carries the XML hazard classes: markup characters < > & and "
        "double quotes in element text (forcing the writer's entity "
        "escaping), a nullable column (absent element must come back "
        "NULL), and DECIMAL/DATE that must survive text serialization "
        "under an explicit read schema with rowTag pinned on both "
        "sides. Oracle restates the staged values closed-form, so the "
        "hash gate proves escaping + NULL + numeric fidelity through "
        "the writer+reader pair. Scale note: XML is a line-splittable "
        "format only per rowTag block; at 100 TB it is an INGEST "
        "format — the first job rewrites to parquet",
)
def xml_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from etl_tj_project_spark.schemas import AMOUNT

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    staged = d.select(
        "doc_id",
        F.concat(
            F.lit('a<b>&amp;</b> "'), F.col("source"), F.lit('" &x')
        ).alias("hazard"),
        F.nullif(F.col("lang"), F.lit("en")).alias("maybe_null"),
        F.col("n_chars").cast(AMOUNT).alias("n_chars_dec"),
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.col("doc_id") % 7).cast("int"),
        ).alias("shard_date"),
    )
    out = tempfile.mkdtemp(prefix="tj_xml_roundtrip_")
    try:
        staged.write.mode("overwrite").format("xml").option(
            "rowTag", "doc"
        ).save(out)
        back = (
            spark.read.schema(staged.schema)
            .format("xml")
            .option("rowTag", "doc")
            .load(out)
        )
        # Materialize so the temp dir can be removed now (documents is
        # the small table; same pattern as the other format roundtrips).
        return spark.createDataFrame(back.collect(), schema=back.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "parquet_merge_schema_evolution",
    """
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(NULL AS VARCHAR)  AS lang,
           CAST(1 AS BIGINT)      AS batch
    FROM documents WHERE doc_id < 250
    UNION ALL
    SELECT doc_id,
           CAST(NULL AS BIGINT)   AS n_chars,
           lang,
           CAST(2 AS BIGINT)      AS batch
    FROM documents WHERE doc_id >= 250 AND doc_id < 500
    """,
    doc="Physical schema evolution through parquet mergeSchema: batch 1 "
        "writes (doc_id, n_chars), batch 2 writes (doc_id, lang) — "
        "different physical schemas in one table directory, partitioned "
        "by batch. Reading with mergeSchema=true must union the footers "
        "(absent columns NULL per file) — the lake-format behavior "
        "union_by_name_schema_evolution pins LOGICALLY, here pinned "
        "through the actual parquet footer-merge machinery. At 100 TB "
        "mergeSchema reads every footer; production tables register the "
        "merged schema in a catalog instead — the entry documents the "
        "cost while proving the semantics",
)
def parquet_merge_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    b1 = d.filter(F.col("doc_id") < 250).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    b2 = d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 500)).select(
        "doc_id", "lang"
    )
    out = tempfile.mkdtemp(prefix="tj_mergeschema_")
    try:
        b1.write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
        b2.write.mode("overwrite").parquet(os.path.join(out, "batch=2"))
        back = (
            spark.read.option("mergeSchema", True)
            .parquet(out)
            .select(
                "doc_id",
                F.col("n_chars").cast("long").alias("n_chars"),
                F.col("lang").cast("string").alias("lang"),
                F.col("batch").cast("long").alias("batch"),
            )
        )
        return spark.createDataFrame(back.collect(), schema=back.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# =========================================================================
# Round-12 pack, wave 6: k-anonymity audit (privacy curation)
# =========================================================================

_KANON_K = 5


@register(
    "k_anonymity_audit",
    f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS grp_sz
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT CAST(grp_sz AS BIGINT) AS group_size,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(grp_sz) AS BIGINT) AS n_rows,
           CAST(CASE WHEN grp_sz < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
             AS violates_k
    FROM g GROUP BY grp_sz
    """,
    doc=f"k-anonymity audit over the quasi-identifier tuple (nation, "
        "market segment, coarse balance band): the group-size histogram "
        f"with a k={_KANON_K} violation flag — the release-readiness "
        "check a privacy-preserving data publication runs AFTER "
        "corpus_pii_redact's direct-identifier pass (quasi-identifiers "
        "re-identify via linkage even with PII gone; groups smaller "
        "than k must be suppressed or generalized before release). One "
        "group-by over the quasi-identifier tuple + one histogram "
        "aggregate — two narrow shuffles at any scale. The balance "
        "band floor(acctbal/1000) is the generalization step itself: "
        "raw balances are near-unique (every group violates), banded "
        "ones form meaningful cohorts — the entry's distribution "
        "exhibits both regimes",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("grp_sz"))
    return g.groupBy(F.col("grp_sz").cast("long").alias("group_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("grp_sz").cast("long").alias("n_rows"),
        F.when(F.col("group_size") < _KANON_K, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("violates_k"),
    )
