"""Statistics registry entries: association and correlation statistics,
interval proration, deterministic sketches (count-min, Bloom filter),
time-series shapes, search and ranking, a window-only CUSUM changepoint
detector, and a k-anonymity audit.

These are the statistical-audit shapes a curation pipeline runs AFTER
ingest: is language independent of source (chi-square), do two rankings
agree (Spearman), fill sensor dropout from group behavior (imputation),
index a series to its base period, compare source vocabularies (set
Jaccard), mine part-affinity rules (support/confidence/lift), prorate an
interval-valued measure across calendar buckets, build a term→postings
index and answer a positional phrase query through index joins.

Every entry follows the exact-rational-then-one-division rule: all
aggregation happens on integers/decimals (order-independent, hence
cross-engine hash-stable), and IEEE double enters only in the final
scalar division(s), rounded. No libm (log/exp/pow) anywhere.

Sketches: like the KMV distinct sketch (harness_functions), count-min
and Bloom are built from md5-derived hashes that both engines compute
identically (``operators.classifier.md5_bucket``), so — unlike HLL,
whose register layout is engine-private — every number carries a FULL
cross-engine oracle hash check: the sketch contract itself (count-min
never under-counts; Bloom never misses a true member) is pinned as
data, not prose.

* Count-min build is ONE keyed shuffle of d×N rows collapsing to d×w
  cells — partial aggregation (map-side combine) makes the exchange
  traffic O(d×w × partitions) regardless of input rows, which is the
  whole point of the sketch at 100 TB. The probe side joins a
  constant-size (d×w ≤ 256-row) sketch, always broadcast.
* The Bloom bit set is a DISTINCT over k×|build| positions bounded by m
  (512 here), broadcast to the probe side — the pre-AQE manual form of
  what the engine's runtime bloom-filter join injection does
  (test_runtime_bloom_filter_join_fires proves the native path fires);
  materializing it as data makes the false-positive arithmetic
  checkable and the filter REUSABLE across queries, which runtime
  injection is not.

CUSUM is the classic sequential changepoint statistic, here computed
with PURE window functions via the identity
``max(0, S_{t-1} + x_t) == R_t - min(0, min_{k<=t} R_k)``
(running sum minus clipped running min) — no recursion, no UDF, two
window passes that scale as ordinary partitioned sorts.

Reference parity note: the reference (awinardi1004/etl-tj-project,
dags/dag_datapelangan.py:188-234) stops at daily count/sum aggregates;
this module is north-star extension surface, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_tj_project_spark.harness import register
from etl_tj_project_spark.operators.classifier import md5_bucket, md5_bucket_sql
from etl_tj_project_spark.schemas import AMOUNT
from etl_tj_project_spark.sources.testdata import load_table


# =========================================================================
# Association/correlation statistics and interval proration
# =========================================================================


_TOKENS = "regexp_extract_all(lower(text), '[a-z]+', 0)"
_TOKENS_SQL = "regexp_extract_all(lower(text), '[a-z]+')"


# =========================================================================
# Chi-square independence cells (lang x source contingency)
# =========================================================================

@register(
    "chisq_lang_source_cells",
    """
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT lang, source, o,
             SUM(o) OVER (PARTITION BY lang)   AS rt,
             SUM(o) OVER (PARTITION BY source) AS ct,
             SUM(o) OVER ()                    AS n
      FROM cells
    )
    SELECT lang, source, o,
           round(CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected,
           round(
             (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS chisq_term
    FROM tot
    """,
    doc="Chi-square independence audit, PER-CELL: observed vs expected "
        "(row_total*col_total/N) contribution for every (lang, source) "
        "cell of the contingency table — the is-language-independent-"
        "of-source drift check run before trusting per-source sampling "
        "rates. Surfaced per cell rather than as one summed statistic "
        "because a float SUM over cells is accumulation-order-dependent "
        "while each cell's term is a pure function of exact integer "
        "totals. One count shuffle + three windows over the "
        "|langs|x|sources| aggregate (70 rows — window cost is nil); "
        "at 100 TB only the first groupBy touches the fact table",
)
def chisq_lang_source_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rt = F.sum("o").over(Window.partitionBy("lang"))
    ct = F.sum("o").over(Window.partitionBy("source"))
    n = F.sum("o").over(Window.partitionBy())
    e = (rt * ct).cast("double") / n.cast("double")
    dev = F.col("o").cast("double") - e
    return cells.select(
        "lang",
        "source",
        "o",
        F.round(e, 6).alias("expected"),
        F.round(dev * dev / e, 6).alias("chisq_term"),
    )


# =========================================================================
# Spearman rank correlation (account balance vs realized spend)
# =========================================================================

@register(
    "spearman_rank_corr",
    """
    WITH spend AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
             COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))),
                      CAST(0 AS DECIMAL(18,2))) AS total_spend
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey, c.c_acctbal
    ),
    ranked AS (
      SELECT c_nationkey,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS r_bal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY total_spend DESC, c_custkey) AS r_spend
      FROM spend
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((r_bal - r_spend) * (r_bal - r_spend)) AS BIGINT)
             AS sum_d2,
           round(1.0 - CAST(6 * SUM((r_bal - r_spend) * (r_bal - r_spend))
                            AS DOUBLE)
                       / (CAST(COUNT(*) AS DOUBLE)
                          * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
                             - 1.0)), 6) AS spearman_rho
    FROM ranked GROUP BY c_nationkey HAVING COUNT(*) >= 2
    """,
    doc="Spearman rank correlation per nation between stated account "
        "balance and realized order spend — does the static customer "
        "attribute predict behavior? Rank-based, so it needs no libm "
        "and no float moments: rho = 1 - 6*sum(d^2)/(n(n^2-1)) from "
        "integer row_number ranks (ties broken by custkey so both "
        "engines rank identically — native rank() on a DOUBLE key "
        "would agree too, but row_number keeps d^2 integer-exact). "
        "One join shuffle + one window shuffle on the customer "
        "aggregate; the fact table is touched once",
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_nationkey", "c_acctbal")
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast(AMOUNT)),
                F.lit(0).cast(AMOUNT),
            ).alias("total_spend")
        )
    )
    wb = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    ws = Window.partitionBy("c_nationkey").orderBy(
        F.col("total_spend").desc(), "c_custkey"
    )
    ranked = spend.select(
        "c_nationkey",
        F.row_number().over(wb).alias("r_bal"),
        F.row_number().over(ws).alias("r_spend"),
    )
    d = F.col("r_bal") - F.col("r_spend")
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d * d).cast("long").alias("sum_d2"),
    )
    nn = F.col("n").cast("double")
    rho = F.lit(1.0) - (F.lit(6) * F.col("sum_d2")).cast("double") / (
        nn * (nn * nn - F.lit(1.0))
    )
    return agg.filter(F.col("n") >= 2).select(
        "c_nationkey", "n", "sum_d2", F.round(rho, 6).alias("spearman_rho")
    )


# =========================================================================
# Group-mean imputation over deterministically-masked dropout
# =========================================================================

@register(
    "impute_group_mean",
    """
    WITH masked AS (
      SELECT event_id, event_type, value,
             substring(md5('mask:' || CAST(event_id AS VARCHAR)), 1, 1) = '0'
               AS is_masked,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    stats AS (
      SELECT event_id, event_type, value, is_masked,
             SUM(CASE WHEN is_masked THEN 0 ELSE cents END)
               OVER (PARTITION BY event_type) AS ok_cents,
             SUM(CASE WHEN is_masked THEN 0 ELSE 1 END)
               OVER (PARTITION BY event_type) AS ok_n
      FROM masked
    )
    SELECT event_id, event_type, is_masked,
           CASE WHEN is_masked
                THEN round(CAST(ok_cents AS DOUBLE) / CAST(ok_n AS DOUBLE)
                           / 100.0, 6)
                ELSE value END AS value_filled
    FROM stats
    """,
    doc="NULL/dropout imputation with the group mean: rows masked by a "
        "deterministic salted-MD5 rule (~1/16 — the fixture standing in "
        "for sensor dropout) are filled with their event_type's mean "
        "over the surviving rows. The mean is exact-integer cents "
        "(value has 2dp, so round(value*100) is the exact integer "
        "representation) divided once in IEEE double — a float AVG "
        "would be accumulation-order-dependent. Expressed as windows "
        "over event_type so the filled table comes back in ONE pass "
        "(aggregate-then-rejoin would scan twice); at 100 TB "
        "event_type is low-cardinality, so the window shuffle is the "
        "same one the aggregate would need",
)
def impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_masked = (
        F.substring(
            F.md5(F.concat(F.lit("mask:"), F.col("event_id").cast("string"))),
            1,
            1,
        )
        == "0"
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    masked = ev.select(
        "event_id",
        "event_type",
        "value",
        is_masked.alias("is_masked"),
        cents.alias("cents"),
    )
    w = Window.partitionBy("event_type")
    ok_cents = F.sum(
        F.when(F.col("is_masked"), F.lit(0)).otherwise(F.col("cents"))
    ).over(w)
    ok_n = F.sum(
        F.when(F.col("is_masked"), F.lit(0)).otherwise(F.lit(1))
    ).over(w)
    imputed = F.round(
        ok_cents.cast("double") / ok_n.cast("double") / F.lit(100.0), 6
    )
    return masked.select(
        "event_id",
        "event_type",
        "is_masked",
        F.when(F.col("is_masked"), imputed)
        .otherwise(F.col("value"))
        .alias("value_filled"),
    )


# =========================================================================
# Index-100 rebase (series normalized to its base period)
# =========================================================================

@register(
    "rebase_index_100",
    """
    WITH monthly AS (
      SELECT o_orderpriority, date_trunc('month', o_orderdate) AS mon,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS rev
      FROM orders GROUP BY o_orderpriority, date_trunc('month', o_orderdate)
    )
    SELECT o_orderpriority, CAST(mon AS DATE) AS mon,
           round(CAST(rev AS DOUBLE), 2) AS rev,
           round(100.0 * CAST(rev AS DOUBLE)
                 / CAST(first_value(rev) OVER (
                     PARTITION BY o_orderpriority ORDER BY mon
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE), 6) AS index_100
    FROM monthly
    """,
    doc="Index-100 rebase: each (priority, month) revenue as a "
        "percentage of that priority's FIRST month — the normalized "
        "cross-series comparison every BI layer draws. Decimal-exact "
        "monthly sums; the base value arrives via first_value over an "
        "explicit running frame (the default frame differs between "
        "engines on ties), and doubles appear only in the final "
        "rebase division. One agg shuffle + one window over the "
        "months-x-priorities aggregate (constant-size at any SF)",
)
def rebase_index_100(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").alias("mon"),
    ).agg(F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("rev"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("mon")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = F.first("rev").over(w)
    return monthly.select(
        "o_orderpriority",
        F.col("mon").cast("date").alias("mon"),
        F.round(F.col("rev").cast("double"), 2).alias("rev"),
        F.round(
            F.lit(100.0) * F.col("rev").cast("double") / base.cast("double"),
            6,
        ).alias("index_100"),
    )


# =========================================================================
# Vocabulary Jaccard between sources
# =========================================================================

@register(
    "vocab_jaccard_sources",
    f"""
    WITH vocab AS (
      SELECT DISTINCT source, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS vsz FROM vocab
      GROUP BY source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM vocab a JOIN vocab b
        ON a.term = b.term AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_inter,
           sa.vsz + sb.vsz - i.n_inter AS n_union,
           round(CAST(i.n_inter AS DOUBLE)
                 / CAST(sa.vsz + sb.vsz - i.n_inter AS DOUBLE), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
    doc="Vocabulary overlap between every source pair: Jaccard of the "
        "distinct-term sets — the cheap corpus-similarity matrix behind "
        "source-mixture decisions (two crawls with 0.9 vocabulary "
        "Jaccard are probably the same site). Works on the VOCABULARY "
        "(one distinct shuffle, bounded by terms x sources, not corpus "
        "size); the pair intersection is a term-keyed self-join — the "
        "same per-key-bounded fan-out pattern as the LSH band join — "
        "and set algebra |A|+|B|-|A∩B| avoids ever materializing "
        "unions. Integer counts, one final IEEE division",
)
def vocab_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    vocab = d.select(
        "source", F.explode(F.expr(_TOKENS)).alias("term")
    ).distinct()
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vsz")
    )
    a = vocab.select(F.col("source").alias("source_a"), "term")
    b = vocab.select(F.col("source").alias("source_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("vsz").alias("vsz_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("vsz").alias("vsz_b")))
    joined = inter.join(sa, "source_a").join(sb, "source_b")
    n_union = F.col("vsz_a") + F.col("vsz_b") - F.col("n_inter")
    return joined.select(
        "source_a",
        "source_b",
        "n_inter",
        n_union.alias("n_union"),
        F.round(
            F.col("n_inter").cast("double") / n_union.cast("double"), 6
        ).alias("jaccard"),
    )


# =========================================================================
# Association rules (support / confidence / lift)
# =========================================================================

@register(
    "assoc_rules_support_lift",
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
              FROM baskets),
    item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM baskets GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS p_a, b.l_partkey AS p_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p_a, p_b, n_ab,
           round(CAST(n_ab AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS support,
           round(CAST(n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6)
             AS conf_a_to_b,
           round((CAST(n_ab AS DOUBLE) * CAST(n.n AS DOUBLE))
                 / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6)
             AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = p_a
    JOIN item ib ON ib.l_partkey = p_b
    CROSS JOIN n_tot n
    ORDER BY n_ab DESC, p_a, p_b LIMIT 50
    """,
    doc="Association rules over order baskets: support, directed "
        "confidence, and lift for the top-50 part pairs. Extends the "
        "co-occurrence count (basket_part_pairs_top50) to the actual "
        "rule metrics a recommender ranks by; lift folds in the "
        "independence baseline N*n_ab/(n_a*n_b). Per-order-bounded "
        "pair fan-out (~16x on 4-line baskets regardless of table "
        "size), item counts broadcast back onto pairs, the global "
        "basket count a one-row cross join. Exact integer counts; "
        "IEEE division only in the three surfaced ratios",
)
def assoc_rules_support_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_tot = baskets.agg(
        F.count_distinct("l_orderkey").cast("long").alias("n")
    )
    item = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("p_a"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("p_b"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("p_a") < F.col("p_b"))
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    ia = F.broadcast(
        item.select(F.col("l_partkey").alias("p_a"), F.col("n_item").alias("n_a"))
    )
    ib = F.broadcast(
        item.select(F.col("l_partkey").alias("p_b"), F.col("n_item").alias("n_b"))
    )
    joined = pair.join(ia, "p_a").join(ib, "p_b").crossJoin(
        F.broadcast(n_tot)
    )
    n_ab = F.col("n_ab").cast("double")
    n = F.col("n").cast("double")
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    return (
        joined.select(
            "p_a",
            "p_b",
            "n_ab",
            F.round(n_ab / n, 6).alias("support"),
            F.round(n_ab / n_a, 6).alias("conf_a_to_b"),
            F.round((n_ab * n) / (n_a * n_b), 6).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "p_a", "p_b")
        .limit(50)
    )


# =========================================================================
# Interval proration across calendar weeks
# =========================================================================

@register(
    "interval_prorate_weekly",
    """
    WITH iv AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS d0,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) + 13 AS d1
      FROM orders
    ),
    wk AS (
      SELECT price, d0, d1, w
      FROM iv, unnest(generate_series(
        CAST((d0 - (d0 % 7)) / 7 AS BIGINT),
        CAST((d1 - (d1 % 7)) / 7 AS BIGINT))) AS t(w)
    )
    SELECT w AS week_idx,
           CAST(DATE '1970-01-01' + INTERVAL (w * 7) DAY AS DATE)
             AS week_start,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(SUM(price * (least(d1, w * 7 + 6)
                                   - greatest(d0, w * 7) + 1)) AS DOUBLE)
                 / 14.0, 4) AS prorated_rev
    FROM wk GROUP BY w
    """,
    doc="Interval proration: each order's value, spread over a 14-day "
        "recognition window [orderdate, +13], is allocated to calendar "
        "weeks proportionally to overlap days — the subscription-"
        "revenue-recognition shape GROUP BY order date cannot express "
        "(a month-end order belongs partly to next month). Each "
        "interval explodes to its <= 3 covered weeks via an integer "
        "sequence (bin replication exactly as the containment join); "
        "overlap days are integer min/max arithmetic; price*days sums "
        "exactly in DECIMAL and the /14 proration divides once per "
        "OUTPUT week, not per row, so the aggregate is order-"
        "independent. Week index is floor(epoch_day/7) spelled "
        "(d - d%7)/7 — double-division floor can mis-bin edge days",
)
def interval_prorate_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d0 = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast("long")
    iv = o.select(
        F.col("o_totalprice").cast(AMOUNT).alias("price"),
        d0.alias("d0"),
        (d0 + F.lit(13)).alias("d1"),
    )

    def week_of(c):
        return ((c - F.pmod(c, F.lit(7))) / 7).cast("long")

    wk = iv.select(
        "price",
        "d0",
        "d1",
        F.explode(F.sequence(week_of(F.col("d0")), week_of(F.col("d1")))).alias("w"),
    )
    ov_days = (
        F.least(F.col("d1"), F.col("w") * 7 + 6)
        - F.greatest(F.col("d0"), F.col("w") * 7)
        + 1
    )
    return (
        wk.groupBy(F.col("w").alias("week_idx"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("price") * ov_days).cast("double") / F.lit(14.0), 4
            ).alias("prorated_rev"),
        )
        .select(
            "week_idx",
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                (F.col("week_idx") * 7).cast("int"),
            ).alias("week_start"),
            "n_orders",
            "prorated_rev",
        )
    )


# =========================================================================
# Winsorization (percentile outlier clamping)
# =========================================================================

@register(
    "winsorize_price_p05_p95",
    """
    WITH cuts AS (
      SELECT l_linestatus,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_linestatus
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_linestatus,
           l.l_extendedprice AS price_raw,
           round(CASE WHEN l.l_extendedprice < c.p05 THEN c.p05
                      WHEN l.l_extendedprice > c.p95 THEN c.p95
                      ELSE l.l_extendedprice END, 6) AS price_winsorized,
           l.l_extendedprice < c.p05 OR l.l_extendedprice > c.p95
             AS was_clamped
    FROM lineitem l JOIN cuts c ON c.l_linestatus = l.l_linestatus
    """,
    doc="Winsorization: clamp each row's price to its group's "
        "[P05, P95] band — the outlier treatment that keeps means "
        "usable without dropping rows (dropping shifts group sizes; "
        "clamping preserves them). Exact interpolated percentiles "
        "(Spark percentile == DuckDB quantile_cont) aggregated per "
        "group, broadcast back onto the fact — one group shuffle + "
        "one broadcast join, the fact is scanned twice (percentile "
        "needs the full distribution before any row can be clamped; "
        "at 100 TB the first pass is approx_percentile and the "
        "rescan disappears into the same job). Output is per ROW: "
        "each clamped value is a pure function of (row, 2 group "
        "scalars), so the result hash-checks where any float "
        "aggregate of clamped values would be order-dependent",
)
def winsorize_price_p05_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cuts = li.groupBy("l_linestatus").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("p05"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
    )
    j = li.join(F.broadcast(cuts), "l_linestatus")
    clamped = (
        F.when(F.col("l_extendedprice") < F.col("p05"), F.col("p05"))
        .when(F.col("l_extendedprice") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("l_extendedprice"))
    )
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "l_linestatus",
        F.col("l_extendedprice").alias("price_raw"),
        F.round(clamped, 6).alias("price_winsorized"),
        (
            (F.col("l_extendedprice") < F.col("p05"))
            | (F.col("l_extendedprice") > F.col("p95"))
        ).alias("was_clamped"),
    )


# =========================================================================
# Running maximum drawdown (cumulative-extreme window analytics)
# =========================================================================

@register(
    "running_max_drawdown",
    """
    WITH flows AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             CASE WHEN o_orderstatus = 'F'
                  THEN CAST(0 AS DECIMAL(18,2)) - CAST(o_totalprice AS DECIMAL(18,2))
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS flow
      FROM orders
    ),
    series AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             SUM(flow) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM flows
    ),
    peaks AS (
      SELECT o_custkey, o_orderdate, o_orderkey, cum,
             MAX(cum) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS peak
      FROM series
    )
    SELECT o_custkey,
           round(CAST(MAX(peak - cum) AS DOUBLE), 2) AS max_drawdown,
           round(CAST(MAX(cum) AS DOUBLE), 2) AS final_peak,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM peaks GROUP BY o_custkey HAVING COUNT(*) >= 3
    """,
    doc="Running-maximum drawdown per customer: cumulative spend vs its "
        "own running peak, max gap surfaced — the cumulative-extreme "
        "window shape (risk drawdown, high-water-mark billing) that "
        "needs TWO stacked running windows, not one. Both windows share "
        "one (custkey, date, orderkey) sort order, so Spark plans a "
        "single exchange+sort for the pair; DECIMAL accumulation keeps "
        "every intermediate exact (a float cumsum would drift order-"
        "dependently), doubles appear only in the rounded output. "
        "Fulfilled ('F') orders are signed as outflows so the "
        "cumulative series genuinely retraces — a spend-only series "
        "would be monotone and every drawdown trivially 0",
)
def running_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flow = F.when(
        F.col("o_orderstatus") == "F",
        F.lit(0).cast(AMOUNT) - F.col("o_totalprice").cast(AMOUNT),
    ).otherwise(F.col("o_totalprice").cast(AMOUNT))
    cum = F.sum(flow).over(w)
    series = o.select(
        "o_custkey", "o_orderdate", "o_orderkey", cum.alias("cum")
    )
    peak = F.max("cum").over(
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peaks = series.withColumn("peak", peak)
    return (
        peaks.groupBy("o_custkey")
        .agg(
            F.round(
                F.max(F.col("peak") - F.col("cum")).cast("double"), 2
            ).alias("max_drawdown"),
            F.round(F.max("cum").cast("double"), 2).alias("final_peak"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 3)
    )


# =========================================================================
# Monthly churn (activity-gap detection via month lead)
# =========================================================================

@register(
    "churned_users_by_day",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    nxt AS (
      SELECT user_id, d,
             lead(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
      FROM ud
    )
    SELECT d,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(SUM(CASE WHEN next_d IS NULL
                          OR next_d > d + INTERVAL 1 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS churned_next_day
    FROM nxt GROUP BY d
    """,
    doc="Daily churn: users active on day d with no activity on d+1 "
        "(lead over the per-user day sequence — NULL lead means the "
        "user never returns; a gap day counts as churn-then-"
        "resurrect, the standard definition; the synthetic events "
        "span one month, so day grain is the non-vacuous cadence). "
        "Runs on the DISTINCT (user, day) grid, never the event "
        "stream: one distinct shuffle + one user-keyed window over "
        "~|users|x|days| rows regardless of event volume",
)
def churned_users_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    nxt = ud.withColumn(
        "next_d",
        F.lead("d").over(Window.partitionBy("user_id").orderBy("d")),
    )
    churn = F.when(
        F.col("next_d").isNull()
        | (F.col("next_d") > F.date_add(F.col("d"), 1)),
        1,
    ).otherwise(0)
    return nxt.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("active_users"),
        F.sum(churn).cast("long").alias("churned_next_day"),
    )


# =========================================================================
# 80%-coverage set per group (cumulative-share cutoff selection)
# =========================================================================

@register(
    "coverage_set_80pct",
    """
    WITH pr AS (
      SELECT l_suppkey, l_returnflag,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY l_suppkey, l_returnflag
    ),
    ranked AS (
      SELECT l_returnflag, l_suppkey, rev,
             SUM(rev) OVER (PARTITION BY l_returnflag
                            ORDER BY rev DESC, l_suppkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(rev) OVER (PARTITION BY l_returnflag) AS tot
      FROM pr
    )
    SELECT l_returnflag, l_suppkey,
           round(CAST(rev AS DOUBLE), 2) AS rev,
           round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share
    FROM ranked
    WHERE (cum - rev) * 5 < tot * 4
    """,
    doc="Minimal 80%-coverage set per group: the smallest prefix of "
        "suppliers (by revenue, deterministic tiebreak) whose running "
        "sum reaches 80% of the group total — the assortment/dedup-"
        "budget selection shape ('which sources cover 80% of tokens'). "
        "Membership is decided by exact DECIMAL cross-multiplication "
        "(prev_cum*5 < tot*4 ⟺ prev share < 0.8, so the crossing row "
        "is included) — the IEEE share is display-only. Aggregate "
        "first, then two shared-sort windows over the group x supplier "
        "table; the fact is scanned once",
)
def coverage_set_80pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_suppkey", "l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast(AMOUNT)).alias("rev")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.col("rev").desc(), "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    ranked = pr.select(
        "l_returnflag",
        "l_suppkey",
        "rev",
        F.sum("rev").over(wcum).alias("cum"),
        F.sum("rev").over(wtot).alias("tot"),
    )
    return ranked.filter(
        (F.col("cum") - F.col("rev")) * 5 < F.col("tot") * 4
    ).select(
        "l_returnflag",
        "l_suppkey",
        F.round(F.col("rev").cast("double"), 2).alias("rev"),
        F.round(
            F.col("cum").cast("double") / F.col("tot").cast("double"), 6
        ).alias("cum_share"),
    )


# =========================================================================
# Fulfillment SLA (fact-to-parent rollup with threshold flag)
# =========================================================================

@register(
    "order_fill_sla",
    """
    WITH per_order AS (
      SELECT l.l_orderkey,
             MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE))) AS worst_lag_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_orderkey
    ),
    flagged AS (
      SELECT p.l_orderkey, o.o_orderpriority, p.worst_lag_days,
             p.worst_lag_days <= 90 AS within_sla
      FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN within_sla THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within,
           round(CAST(SUM(CASE WHEN within_sla THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS fill_rate
    FROM flagged GROUP BY o_orderpriority
    """,
    doc="Fulfillment SLA: an order meets SLA iff its WORST line ships "
        "within 90 days of order date — the all-children-within-bound "
        "rollup (MAX lag per parent, then the flag; flagging lines "
        "individually and averaging would overweight large orders). "
        "One orderkey join+agg shuffle, then the priority rollup over "
        "|orders| rows; integer day arithmetic, one IEEE rate division",
)
def order_fill_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.max(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            ).alias("worst_lag_days")
        )
    )
    within = (F.col("worst_lag_days") <= 90).cast("int")
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(within).cast("long").alias("n_within"),
        F.round(
            F.sum(within).cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("fill_rate"),
    )


# =========================================================================
# Duplicate-payment detection (same amount, same customer, close dates)
# =========================================================================

@register(
    "duplicate_shipment_pairs",
    """
    WITH l AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             CAST(l_shipdate AS DATE) AS d
      FROM lineitem
    )
    SELECT a.l_orderkey AS key_a, a.l_linenumber AS line_a,
           b.l_orderkey AS key_b, b.l_linenumber AS line_b,
           a.l_partkey, a.l_suppkey,
           date_diff('day', a.d, b.d) AS gap_days
    FROM l a JOIN l b
      ON b.l_partkey = a.l_partkey AND b.l_suppkey = a.l_suppkey
     AND (a.l_orderkey < b.l_orderkey
          OR (a.l_orderkey = b.l_orderkey
              AND a.l_linenumber < b.l_linenumber))
    WHERE abs(date_diff('day', a.d, b.d)) <= 3
    """,
    doc="Duplicate-shipment screen: line pairs with the same (part, "
        "supplier) shipping within 3 days — the double-posting / "
        "double-fulfillment audit. The join is equi on the natural "
        "composite key (per-key-bounded fan-out like the LSH band "
        "join) with the date-proximity band as a residual filter, so "
        "no theta join is planned; the pair order is pinned "
        "lexicographically on (orderkey, linenumber) so each "
        "unordered pair appears exactly once in both engines",
)
def duplicate_shipment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.col("l_shipdate").cast("date").alias("d"),
    )
    a = li.select(
        F.col("l_orderkey").alias("key_a"),
        F.col("l_linenumber").alias("line_a"),
        "l_partkey",
        "l_suppkey",
        F.col("d").alias("d_a"),
    )
    b = li.select(
        F.col("l_orderkey").alias("key_b"),
        F.col("l_linenumber").alias("line_b"),
        F.col("l_partkey").alias("part_b"),
        F.col("l_suppkey").alias("supp_b"),
        F.col("d").alias("d_b"),
    )
    lex = (F.col("key_a") < F.col("key_b")) | (
        (F.col("key_a") == F.col("key_b"))
        & (F.col("line_a") < F.col("line_b"))
    )
    gap = F.datediff(F.col("d_b"), F.col("d_a"))
    return (
        a.join(
            b,
            (F.col("part_b") == F.col("l_partkey"))
            & (F.col("supp_b") == F.col("l_suppkey"))
            & lex,
        )
        .filter(F.abs(gap) <= 3)
        .select(
            "key_a",
            "line_a",
            "key_b",
            "line_b",
            "l_partkey",
            "l_suppkey",
            gap.alias("gap_days"),
        )
    )


# =========================================================================
# Last-touch attribution (running ignore-nulls carry within user stream)
# =========================================================================

@register(
    "purchase_attribution_last_touch",
    """
    WITH tagged AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_id
      FROM events
    )
    SELECT event_id, user_id, last_click_id,
           last_click_id IS NOT NULL AS attributed
    FROM tagged WHERE event_type = 'purchase'
    """,
    doc="Last-touch attribution: each purchase is credited to the "
        "user's most recent STRICTLY-PRIOR click via last_value "
        "IGNORE NULLS over a frame ending at 1 PRECEDING — the frame "
        "bound is the correctness point (CURRENT ROW would let a "
        "click-purchase tie attribute to itself) and the (ts, "
        "event_id) order makes the carry deterministic under "
        "same-timestamp events. One user-keyed window over the raw "
        "stream — the set-based form of the per-user cursor loop, "
        "and the batch twin of the stream-stream attribution join "
        "(streaming/stream_joins.py)",
)
def purchase_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            last_click.alias("last_click_id"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "last_click_id",
            F.col("last_click_id").isNotNull().alias("attributed"),
        )
    )


# =========================================================================
# Weighted median (cumulative-weight crossing, fully integer-exact)
# =========================================================================

@register(
    "weighted_median_price",
    """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ),
    c AS (
      SELECT l_returnflag, l_extendedprice, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
      FROM w
    )
    SELECT l_returnflag,
           MIN(l_extendedprice) AS weighted_median,
           CAST(MIN(tot) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
    doc="Weighted median (lower): the smallest price whose cumulative "
        "quantity weight reaches half the group total — the "
        "per-unit-weighted center unweighted median misstates when "
        "line sizes vary. Crossing is decided by exact integer "
        "cross-multiplication (2*cum >= tot), never a float fraction; "
        "the (price, weight) sort order is total within the aggregate "
        "frame so cum is engine-identical. One window shuffle + one "
        "collapse aggregate; at 100 TB this is the exactness anchor "
        "for a weighted approx_percentile swap, like median_iqr_pack",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("wt"),
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = w.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("wt").over(wc).alias("cum"),
        F.sum("wt").over(wt).alias("tot"),
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.min("tot").cast("long").alias("total_weight"),
        )
    )


# =========================================================================
# HLL sketch build + merge (the mergeable-state distinct-count path)
# =========================================================================

@register(
    "hll_sketch_union_daily",
    None,  # rows-only by the sketch policy (approx_count_distinct's
    # reason): HLL register contents are engine-specific, so estimates
    # can't cross-engine hash. The value bound lives in
    # tests/test_stats2.py (per-day and merged estimates within 5% of
    # exact), same contract as approx_count_distinct.
    doc="Daily HLL sketches MERGED to a period estimate "
        "(hll_sketch_agg per day -> hll_union_agg -> estimate): the "
        "mergeable-state pattern that makes distinct-count rollups "
        "re-aggregable — per-day sketches persist as bytes, and any "
        "window (week, month, all-time) is a UNION of stored sketches "
        "with no rescan of the fact, the property COUNT(DISTINCT) "
        "fundamentally lacks (reaggregate_partials' algebra extended "
        "to distincts). One day-keyed shuffle builds sketches; the "
        "merge moves |days| fixed-size byte blobs",
)
def hll_sketch_union_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
    )
    per_day = daily.select(
        F.col("d").cast("string").alias("period"),
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("est_users"),
    )
    merged = daily.agg(
        F.lit("ALL").alias("period"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("long")
        .alias("est_users"),
    )
    return per_day.unionByName(merged)


# =========================================================================
# Theta sketches: distinct-set ALGEBRA (intersection/difference)
# =========================================================================

@register(
    "theta_audience_overlap",
    None,  # rows-only by the sketch policy: theta register contents are
    # engine-specific (DuckDB has no datasketches surface), so the
    # estimates can't cross-engine hash. Value bound in
    # tests/test_stats2.py: at this cardinality theta estimates are
    # exact-mode, compared to exact set counts.
    doc="Audience set algebra on THETA sketches: distinct users who "
        "click, who purchase, who do BOTH (theta_intersection_agg), "
        "EITHER (theta_union_agg), and click-minus-purchase "
        "(theta_difference) — the sketch family that supports "
        "intersections, which HLL structurally cannot (union-only "
        "registers). At 100 TB: per-segment sketches persist as "
        "bytes; any audience-overlap question is sketch algebra over "
        "fixed-size state, never a fact rescan or a COUNT(DISTINCT "
        "CASE...) double scan. One event_type-keyed shuffle builds "
        "all sketches",
)
def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.where(F.col("event_type").isin("click", "purchase")).createOrReplaceTempView(
        "__theta_ev"
    )
    return ev.sparkSession.sql(
        """
        WITH s AS (
          SELECT event_type, theta_sketch_agg(user_id) AS sk
          FROM __theta_ev GROUP BY event_type
        ),
        c AS (SELECT sk FROM s WHERE event_type = 'click'),
        p AS (SELECT sk FROM s WHERE event_type = 'purchase')
        SELECT
          CAST(theta_sketch_estimate(c.sk) AS BIGINT) AS est_click,
          CAST(theta_sketch_estimate(p.sk) AS BIGINT) AS est_purchase,
          CAST(theta_sketch_estimate(theta_intersection(c.sk, p.sk))
               AS BIGINT) AS est_both,
          CAST(theta_sketch_estimate(theta_union(c.sk, p.sk))
               AS BIGINT) AS est_either,
          CAST(theta_sketch_estimate(theta_difference(c.sk, p.sk))
               AS BIGINT) AS est_click_only
        FROM c, p
        """
    )


# =========================================================================
# KLL quantile sketches: mergeable distributed percentiles
# =========================================================================

@register(
    "kll_quantile_merge_profile",
    None,  # rows-only by the sketch policy (same as
    # approx_percentile_profile): KLL internals are engine-specific.
    # Rank-error bound vs exact percentiles in tests/test_stats2.py.
    doc="KLL quantile sketches built PER DAY and merged to period "
        "percentiles (kll_sketch_agg_double per day -> kll_merge_agg "
        "-> get_quantile): the mergeable-quantile path that makes "
        "p50/p95 re-aggregable over stored daily state — "
        "approx_percentile answers one window from a rescan, KLL "
        "answers ANY window from sketch bytes "
        "(reaggregate_partials' algebra extended to order "
        "statistics). One day-keyed shuffle; the merge moves |days| "
        "fixed-size sketches",
)
def kll_quantile_merge_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.expr("kll_sketch_agg_double(CAST(value AS DOUBLE))").alias("sk")
    )
    return daily.agg(
        F.expr(
            "round(kll_sketch_get_quantile_double("
            "kll_merge_agg_double(sk), 0.5), 2)"
        ).alias("p50"),
        F.expr(
            "round(kll_sketch_get_quantile_double("
            "kll_merge_agg_double(sk), 0.95), 2)"
        ).alias("p95"),
        F.expr("kll_sketch_get_n_double(kll_merge_agg_double(sk))")
        .cast("long")
        .alias("n"),
    )


# =========================================================================
# Inter-arrival time distribution (latency histogram from lag gaps)
# =========================================================================

@register(
    "interarrival_histogram",
    """
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS gap_us
      FROM events
    )
    SELECT CAST(least(gap_us // 60000000, 30) AS BIGINT) AS gap_minutes,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY 1
    """,
    doc="Inter-arrival distribution: per-user event gaps (lag over the "
        "epoch-microsecond order, event_id tiebreak for simultaneous "
        "events) bucketed to minutes with a 30-minute overflow cap — "
        "the latency/engagement histogram behind sessionization gap "
        "thresholds (the 30-minute session gap is READ OFF this "
        "table, not guessed). Integer microsecond arithmetic and "
        "integer floor-division bucketing; one user-keyed window + "
        "one small aggregate",
)
def interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    gap = us - F.lag(us).over(w)
    gaps = ev.select(gap.alias("gap_us")).filter(F.col("gap_us").isNotNull())
    # Exact integer floor division ((x - x%w)/w — the repo-wide idiom;
    # a double-division floor can mis-bin exact bin-edge values).
    g = F.col("gap_us")
    wus = F.lit(60_000_000)
    bucket = F.least(((g - F.pmod(g, wus)) / wus).cast("long"), F.lit(30))
    return (
        gaps.groupBy(bucket.alias("gap_minutes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"))
    )


# =========================================================================
# Herfindahl-Hirschman concentration index (vendor-risk audit)
# =========================================================================

@register(
    "supplier_concentration_hhi",
    """
    WITH rev AS (
      SELECT l_returnflag, l_suppkey,
             SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_returnflag, l_suppkey
    ),
    tot AS (
      SELECT l_returnflag,
             SUM(cents) AS tot_cents,
             SUM(cents * cents) AS sumsq_cents,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_suppliers,
           round(CAST(sumsq_cents AS DOUBLE)
                 / (CAST(tot_cents AS DOUBLE) * CAST(tot_cents AS DOUBLE)),
                 9) AS hhi
    FROM tot
    """,
    doc="Herfindahl-Hirschman concentration per segment: "
        "HHI = sum(share_i^2) spelled sum(rev_i^2)/(sum(rev))^2 so the "
        "numerator and denominator are EXACT integer-cents sums (one "
        "sum of squares, one squared sum) and IEEE enters in a single "
        "final division — the vendor-dependency audit (HHI -> 1 means "
        "one supplier owns the segment; procurement gates on it). Two "
        "stacked aggregations, no window, one scan; cents stay < 2^63 "
        "for any realistic segment",
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    rev = li.groupBy("l_returnflag", "l_suppkey").agg(
        F.sum(cents).alias("cents")
    )
    # Sum of squared cents overflows int64 at sf0.01+ (1e14 per row x
    # 1e4 rows) — accumulate in DECIMAL(38,0), exactly as DuckDB's
    # BIGINT sum silently widens to HUGEINT.
    sq = (F.col("cents").cast("decimal(19,0)") * F.col("cents")).cast(
        "decimal(38,0)"
    )
    tot = rev.groupBy("l_returnflag").agg(
        F.sum("cents").alias("tot_cents"),
        F.sum(sq).alias("sumsq_cents"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    return tot.select(
        "l_returnflag",
        "n_suppliers",
        F.round(
            F.col("sumsq_cents").cast("double")
            / (
                F.col("tot_cents").cast("double")
                * F.col("tot_cents").cast("double")
            ),
            9,
        ).alias("hhi"),
    )


# =========================================================================
# Time-to-convert histogram (first click -> first purchase)
# =========================================================================

@register(
    "time_to_convert_histogram",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click'
                      THEN epoch_us(ts) END) AS first_click_us,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS first_buy_us
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT user_id, first_buy_us - first_click_us AS lag_us
      FROM firsts
      WHERE first_click_us IS NOT NULL AND first_buy_us IS NOT NULL
        AND first_buy_us >= first_click_us
    )
    SELECT CAST(least(lag_us // 3600000000, 48) AS BIGINT) AS lag_hours,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM conv GROUP BY 1
    """,
    doc="Time-to-convert: first click -> first purchase lag per user, "
        "bucketed to hours with a 48h overflow cap — the conversion-"
        "latency curve attribution windows are sized from. One "
        "conditional-MIN aggregate gets both firsts in a single user-"
        "keyed pass (no self-join of the event stream); users who "
        "bought before ever clicking are excluded as non-attributable. "
        "Integer microseconds end to end, exact floor-division "
        "bucketing",
)
def time_to_convert_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", us)).alias("c_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("b_us"),
    )
    conv = firsts.filter(
        F.col("c_us").isNotNull()
        & F.col("b_us").isNotNull()
        & (F.col("b_us") >= F.col("c_us"))
    ).select((F.col("b_us") - F.col("c_us")).alias("lag_us"))
    g = F.col("lag_us")
    wus = F.lit(3_600_000_000)
    bucket = F.least(((g - F.pmod(g, wus)) / wus).cast("long"), F.lit(48))
    return conv.groupBy(bucket.alias("lag_hours")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


# =========================================================================
# Growth accounting: new vs returning share per day
# =========================================================================

@register(
    "growth_accounting_daily",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(d) AS first_d FROM ud GROUP BY user_id
    )
    SELECT ud.d,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(SUM(CASE WHEN f.first_d = ud.d THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN f.first_d <> ud.d THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users,
           round(CAST(SUM(CASE WHEN f.first_d = ud.d THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS new_share
    FROM ud JOIN firsts f ON f.user_id = ud.user_id
    GROUP BY ud.d
    """,
    doc="Growth accounting: each day's actives split into NEW (first "
        "day ever) vs RETURNING — the new-share curve that separates "
        "acquisition from retention in a single chart (a flat actives "
        "line with rising new_share is churn wearing a wig). Runs on "
        "the DISTINCT user-day grid; the per-user first day is one "
        "aggregate joined back (broadcastable — |users| rows). "
        "Complements churned_users_by_day (the outflow side of the "
        "same ledger)",
)
def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    firsts = ud.groupBy("user_id").agg(F.min("d").alias("first_d"))
    j = ud.join(firsts, "user_id")
    is_new = F.when(F.col("first_d") == F.col("d"), 1).otherwise(0)
    return j.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("active_users"),
        F.sum(is_new).cast("long").alias("new_users"),
        F.sum(1 - is_new).cast("long").alias("returning_users"),
        F.round(
            F.sum(is_new).cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("new_share"),
    )


# =========================================================================
# Benford first-digit audit (fraud/synthetic-data screening)
# =========================================================================

@register(
    "benford_first_digit",
    """
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM cents
    )
    SELECT d AS first_digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS share
    FROM digits GROUP BY d
    """,
    doc="Benford first-digit audit: the leading-digit distribution of "
        "order amounts — fabricated or synthetically-capped amounts "
        "bend away from Benford's logarithmic curve, making this the "
        "classic forensic screen (and, run on THIS synthetic table, it "
        "documents the generator's uniform bias honestly). The digit "
        "is extracted from the exact integer-cents STRING — no log10, "
        "no float magnitude math; one tiny aggregate + a grand-total "
        "window over 9 rows",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    digits = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("d")
    )
    tot = F.sum(F.count(F.lit(1))).over(Window.partitionBy())
    return digits.groupBy(F.col("d").alias("first_digit")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.count(F.lit(1)).cast("double") / tot.cast("double"), 6)
        .alias("share"),
    )


# =========================================================================
# Revenue bridge waterfall (MoM change decomposed by customer motion)
# =========================================================================

@register(
    "revenue_bridge_waterfall",
    """
    WITH cm AS (
      SELECT o_custkey, date_trunc('month', o_orderdate) AS mon,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey, date_trunc('month', o_orderdate)
    ),
    months AS (SELECT DISTINCT mon FROM cm),
    paired AS (
      SELECT m.mon, c.o_custkey,
             coalesce(cur.rev, CAST(0 AS DECIMAL(18,2))) AS cur_rev,
             coalesce(prv.rev, CAST(0 AS DECIMAL(18,2))) AS prv_rev
      FROM months m
      CROSS JOIN (SELECT DISTINCT o_custkey FROM cm) c
      LEFT JOIN cm cur ON cur.o_custkey = c.o_custkey AND cur.mon = m.mon
      LEFT JOIN cm prv ON prv.o_custkey = c.o_custkey
                      AND prv.mon = m.mon - INTERVAL 1 MONTH
      WHERE coalesce(cur.rev, CAST(0 AS DECIMAL(18,2)))
            <> CAST(0 AS DECIMAL(18,2))
         OR coalesce(prv.rev, CAST(0 AS DECIMAL(18,2)))
            <> CAST(0 AS DECIMAL(18,2))
    )
    SELECT CAST(mon AS DATE) AS mon,
           round(CAST(SUM(CASE WHEN prv_rev = 0 THEN cur_rev
                               ELSE CAST(0 AS DECIMAL(18,2)) END)
                 AS DOUBLE), 2) AS new_rev,
           round(CAST(SUM(CASE WHEN cur_rev = 0 THEN prv_rev
                               ELSE CAST(0 AS DECIMAL(18,2)) END)
                 AS DOUBLE), 2) AS churned_rev,
           round(CAST(SUM(CASE WHEN cur_rev > prv_rev AND prv_rev <> 0
                               THEN cur_rev - prv_rev
                               ELSE CAST(0 AS DECIMAL(18,2)) END)
                 AS DOUBLE), 2) AS expansion_rev,
           round(CAST(SUM(CASE WHEN cur_rev < prv_rev AND cur_rev <> 0
                               THEN prv_rev - cur_rev
                               ELSE CAST(0 AS DECIMAL(18,2)) END)
                 AS DOUBLE), 2) AS contraction_rev,
           round(CAST(SUM(cur_rev) - SUM(prv_rev) AS DOUBLE), 2)
             AS net_change
    FROM paired GROUP BY mon
    """,
    doc="Revenue bridge (the SaaS waterfall): each month's net revenue "
        "change decomposed into NEW (no prior-month revenue), CHURNED "
        "(no current), EXPANSION and CONTRACTION (both months, "
        "delta-signed) — the identity new - churned + expansion - "
        "contraction = net_change holds to the cent because every "
        "bucket is a DECIMAL-exact sum (pinned in tests/test_stats2). "
        "The per-customer month pairing is a self-join of the "
        "customer-month aggregate on (cust, mon-1) — never a window "
        "over the raw fact — and customers inactive in BOTH adjacent "
        "months are filtered before the aggregate so the pairing "
        "stays |active|-sized, not |customers x months|",
)
def revenue_bridge_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    zero = F.lit(0).cast(AMOUNT)
    cm = o.groupBy(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("mon")
    ).agg(F.sum(F.col("o_totalprice").cast(AMOUNT)).alias("rev"))
    cur = cm.select("o_custkey", "mon", F.col("rev").alias("cur_rev"))
    prv = cm.select(
        "o_custkey",
        F.add_months(F.col("mon"), 1).cast("timestamp").alias("mon"),
        F.col("rev").alias("prv_rev"),
    )
    paired = (
        cur.join(prv, ["o_custkey", "mon"], "full_outer")
        .select(
            "mon",
            F.coalesce("cur_rev", zero).alias("cur_rev"),
            F.coalesce("prv_rev", zero).alias("prv_rev"),
        )
        # A full outer of the two shifted aggregates only creates rows
        # where at least one side is active — matching the oracle's
        # explicit both-zero filter.
    )
    # Months present only via the shifted prv side (one past the data's
    # last month) must not appear: restrict to real months.
    months = cm.select("mon").distinct()
    paired = paired.join(F.broadcast(months), "mon", "left_semi")
    return paired.groupBy(F.col("mon").cast("date").alias("mon")).agg(
        F.round(
            F.sum(
                F.when(F.col("prv_rev") == zero, F.col("cur_rev")).otherwise(zero)
            ).cast("double"),
            2,
        ).alias("new_rev"),
        F.round(
            F.sum(
                F.when(F.col("cur_rev") == zero, F.col("prv_rev")).otherwise(zero)
            ).cast("double"),
            2,
        ).alias("churned_rev"),
        F.round(
            F.sum(
                F.when(
                    (F.col("cur_rev") > F.col("prv_rev"))
                    & (F.col("prv_rev") != zero),
                    F.col("cur_rev") - F.col("prv_rev"),
                ).otherwise(zero)
            ).cast("double"),
            2,
        ).alias("expansion_rev"),
        F.round(
            F.sum(
                F.when(
                    (F.col("cur_rev") < F.col("prv_rev"))
                    & (F.col("cur_rev") != zero),
                    F.col("prv_rev") - F.col("cur_rev"),
                ).otherwise(zero)
            ).cast("double"),
            2,
        ).alias("contraction_rev"),
        F.round(
            (F.sum("cur_rev") - F.sum("prv_rev")).cast("double"), 2
        ).alias("net_change"),
    )


# =========================================================================
# Cohort LTV curve (cumulative revenue by acquisition cohort x age)
# =========================================================================

@register(
    "cohort_ltv_curve",
    """
    WITH firsts AS (
      SELECT o_custkey,
             MIN(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT f.cohort,
             CAST(date_diff('month', f.cohort,
                            date_trunc('month', o.o_orderdate)) AS BIGINT)
               AS age_months,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM firsts GROUP BY cohort
    )
    SELECT CAST(r.cohort AS DATE) AS cohort, r.age_months,
           s.cohort_users,
           round(CAST(SUM(r.rev) OVER (
                    PARTITION BY r.cohort ORDER BY r.age_months
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS DOUBLE), 2) AS cum_rev,
           CAST(CAST(SUM(r.rev) OVER (
                    PARTITION BY r.cohort ORDER BY r.age_months
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) * 100 AS BIGINT) // s.cohort_users AS DOUBLE) / 100.0
             AS ltv_per_user
    FROM rev r JOIN sizes s ON s.cohort = r.cohort
    """,
    doc="Cohort LTV curve: cumulative revenue per acquisition cohort "
        "(first-order month) by months-since-acquisition, normalized "
        "per cohort user — the payback/LTV table cohort_retention's "
        "engagement counts don't answer (WHO stays is not WHO pays). "
        "Aggregate-first ordering: the running sum windows over the "
        "|cohorts|x|ages| aggregate, never the fact; DECIMAL sums "
        "keep cum_rev exact, month arithmetic is calendar-aware "
        "date_diff. Cohort sizes join in broadcast-sized",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mon = F.date_trunc("month", "o_orderdate")
    firsts = o.groupBy("o_custkey").agg(F.min(mon).alias("cohort"))
    joined = o.join(firsts, "o_custkey")
    age = F.months_between(
        F.date_trunc("month", "o_orderdate"), F.col("cohort")
    ).cast("long")
    rev = joined.groupBy("cohort", age.alias("age_months")).agg(
        F.sum(F.col("o_totalprice").cast(AMOUNT)).alias("rev")
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("rev").over(w)
    return (
        rev.join(F.broadcast(sizes), "cohort")
        .withColumn("cum", cum)
        .select(
            F.col("cohort").cast("date").alias("cohort"),
            "age_months",
            "cohort_users",
            F.round(F.col("cum").cast("double"), 2).alias("cum_rev"),
            # Per-user LTV in integer CENTS with floor division: a
            # double division lands on exact .005 ties (2-decimal cum
            # over small integer cohorts) where engine tie-rounding
            # diverges; floored cents are tie-free and exact.
            (
                F.expr("CAST(cum * 100 AS BIGINT) div cohort_users").cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("ltv_per_user"),
        )
    )


# =========================================================================
# Gini coefficient of revenue concentration (scalar inequality measure)
# =========================================================================

@register(
    "gini_coefficient_revenue",
    """
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             SUM(cents) OVER () AS tot
      FROM cust
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_customers,
           round(
             CAST(2 * SUM(i * cents) - (MIN(n) + 1) * MIN(tot) AS DOUBLE)
             / (CAST(MIN(n) AS DOUBLE) * CAST(MIN(tot) AS DOUBLE)), 6)
             AS gini
    FROM ranked
    """,
    doc="Gini coefficient of customer revenue: the scalar inequality "
        "measure the Lorenz table (pareto_revenue_concentration) "
        "plots, via the rank formula G = (2*Sum(i*x_i) - (n+1)*Sum(x))"
        " / (n*Sum(x)) over ascending-sorted exact integer cents — "
        "every term is an integer (rank x cents products sum exactly; "
        "DuckDB widens to HUGEINT, Spark stays < 2^63 at these "
        "magnitudes), IEEE enters once. Ties broken by custkey make "
        "the ranks deterministic, and the rank formula is "
        "tie-insensitive in value (equal x_i swap ranks without "
        "changing Sum(i*x_i)'s total). One aggregate + one global "
        "window over |customers| rows",
)
def gini_coefficient_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    cust = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    ranked = cust.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .cast("long")
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
        F.sum("cents").over(Window.partitionBy()).alias("tot"),
    )
    num = (
        F.lit(2) * F.sum(F.col("i") * F.col("cents"))
        - (F.min("n") + 1) * F.min("tot")
    ).cast("double")
    den = F.min("n").cast("double") * F.min("tot").cast("double")
    return ranked.agg(
        F.min("n").cast("long").alias("n_customers"),
        F.round(num / den, 6).alias("gini"),
    )


@register(
    "groupwise_linear_fit",
    """
    WITH pts AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
           (CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE))
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE), 0.0) AS r2
    FROM s
    """,
    doc="Group-wise ordinary-least-squares fit (value-in-cents vs "
        "day-of-month per event_type): slope, intercept, r-squared — "
        "the per-segment trend pass a metrics warehouse runs over "
        "every KPI. Exactness: x (0..29) and y (cents) are BIGINTs, so "
        "all five sufficient statistics are EXACT integer sums (bounds "
        "n*sxy < 6e16 << 2^63, comment-audited); the only floating "
        "steps are the final divisions on identical exact operands — "
        "IEEE round-to-nearest on both engines, bit-equal results. "
        "Deliberately NOT regr_slope/regr_r2: each engine computes "
        "those with its own single-pass update formula and the low "
        "bits differ. ONE partial-aggregatable shuffle on event_type "
        "(sums combine map-side); at 100 TB this is scan-bound, the "
        "optimal shape for a full-table fit",
)
def groupwise_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov = (n * sxy - sx * sy).cast("double")
    varx = F.nullif((n * sxx - sx * sx), F.lit(0)).cast("double")
    slope = cov / varx
    return s.select(
        "event_type",
        "n",
        slope.alias("slope"),
        ((sy.cast("double") - slope * sx.cast("double")) / n.cast("double"))
        .alias("intercept"),
        (cov * cov
         / F.nullif(
             (n * sxx - sx * sx).cast("double")
             * (n * syy - sy * sy).cast("double"),
             F.lit(0.0),
         )).alias("r2"),
    )


# =========================================================================
# Deterministic sketches: count-min heavy hitters, SQL Bloom filter
# =========================================================================


_CMS_D = 4   # hash rows
_CMS_W = 64  # buckets per row


@register(
    "cms_heavy_hitters",
    f"""
    WITH keys AS (SELECT o_custkey AS k FROM orders),
    cells AS (
      SELECT j,
             {md5_bucket_sql("CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)", _CMS_W)}
               AS bucket,
             COUNT(*) AS cell_cnt
      FROM keys, unnest([0, 1, 2, 3]) AS t(j)
      GROUP BY 1, 2
    ),
    exact AS (SELECT k, COUNT(*) AS exact_cnt FROM keys GROUP BY 1),
    top10 AS (
      SELECT k, exact_cnt FROM exact ORDER BY exact_cnt DESC, k LIMIT 10
    ),
    probes AS (
      SELECT k, exact_cnt, j,
             {md5_bucket_sql("CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)", _CMS_W)}
               AS bucket
      FROM top10, unnest([0, 1, 2, 3]) AS t(j)
    )
    SELECT p.k AS o_custkey,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(min(c.cell_cnt) AS BIGINT) AS cms_est,
           CAST(min(c.cell_cnt) - p.exact_cnt AS BIGINT) AS overcount
    FROM probes p JOIN cells c USING (j, bucket)
    GROUP BY p.k, p.exact_cnt
    """,
    doc="Count-min sketch (d=4, w=64) on the portable md5 hash — point "
        "frequency estimates for the top-10 heavy hitters, with the "
        "overcount surfaced so the one-sided error contract "
        "(est >= exact, always) is hash-checked data. Deterministic "
        "hashes make the whole sketch cross-engine identical (HLL is "
        "not). Build collapses d×N hashed rows to a constant d×w cell "
        "grid via partial aggregation; the probe joins the 256-cell "
        "sketch broadcast-side. Mergeable (cell-wise +), so it partial-"
        "aggregates at 100 TB and is the bounded streaming state for "
        "heavy-hitter tracking",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    js = F.array(*[F.lit(j) for j in range(_CMS_D)])
    salted = F.concat(
        F.col("j").cast("string"), F.lit(":"), F.col("k").cast("string")
    )
    hashed = keys.withColumn("j", F.explode(js)).withColumn(
        "bucket", md5_bucket(salted, _CMS_W)
    )
    cells = hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cell_cnt"))
    exact = keys.groupBy("k").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top10 = exact.orderBy(F.col("exact_cnt").desc(), F.col("k")).limit(10)
    probes = top10.withColumn("j", F.explode(js)).withColumn(
        "bucket", md5_bucket(salted, _CMS_W)
    )
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("cell_cnt").alias("cms_est"))
    )
    return est.select(
        F.col("k").alias("o_custkey"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


_BLOOM_M = 512  # bits
_BLOOM_K = 3    # hash functions


@register(
    "bloom_filter_membership",
    f"""
    WITH build AS (SELECT p_partkey AS k FROM part WHERE p_size <= 5),
    bits AS (
      SELECT DISTINCT
             {md5_bucket_sql("CAST(j AS VARCHAR) || '#' || CAST(k AS VARCHAR)", _BLOOM_M)}
               AS pos
      FROM build, unnest([0, 1, 2]) AS t(j)
    ),
    probe AS (
      SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_quantity >= 45
    ),
    checked AS (
      SELECT p.k,
             min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS all_set
      FROM (
        SELECT k, j,
               {md5_bucket_sql("CAST(j AS VARCHAR) || '#' || CAST(k AS VARCHAR)", _BLOOM_M)}
                 AS pos
        FROM probe, unnest([0, 1, 2]) AS t(j)
      ) p
      LEFT JOIN bits b USING (pos)
      GROUP BY p.k
    ),
    truth AS (
      SELECT c.k, c.all_set,
             CASE WHEN bu.k IS NULL THEN 0 ELSE 1 END AS is_member
      FROM checked c LEFT JOIN (SELECT DISTINCT k FROM build) bu USING (k)
    )
    SELECT CAST((SELECT COUNT(*) FROM build) AS BIGINT) AS n_build,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(all_set) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(is_member) AS BIGINT) AS n_true_members,
           CAST(SUM(CASE WHEN all_set = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN all_set = 0 AND is_member = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_negatives
    FROM truth
    """,
    doc="Bloom filter as portable SQL data: k=3 md5-derived bit "
        "positions in an m=512 set built from one table's keys, probed "
        "by another's — the manual, REUSABLE form of runtime bloom-join "
        "injection, with the contract surfaced as hash-checked columns: "
        "n_false_negatives is structurally 0 (a Bloom filter never "
        "misses a member), n_false_positives is whatever the load "
        "factor implies and both engines must agree exactly because the "
        "hashes are deterministic. The bit set is a bounded DISTINCT "
        "(≤m rows) broadcast to the probe side; at 100 TB the build is "
        "a map-side-combined shuffle of k×|build| rows capped at m "
        "cells",
)
def bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    build = part.filter(F.col("p_size") <= 5).select(F.col("p_partkey").alias("k"))
    js = F.array(*[F.lit(j) for j in range(_BLOOM_K)])
    salted = F.concat(
        F.col("j").cast("string"), F.lit("#"), F.col("k").cast("string")
    )
    bits = (
        build.withColumn("j", F.explode(js))
        .select(md5_bucket(salted, _BLOOM_M).alias("pos"))
        .distinct()
    )
    probe = (
        li.filter(F.col("l_quantity") >= 45)
        .select(F.col("l_partkey").alias("k"))
        .distinct()
    )
    checked = (
        probe.withColumn("j", F.explode(js))
        .withColumn("pos", md5_bucket(salted, _BLOOM_M))
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("hit"), F.lit(0))).alias("all_set"))
    )
    truth = checked.join(
        F.broadcast(build.distinct().withColumn("is_member", F.lit(1))),
        "k",
        "left",
    ).withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(0)))
    # Scalar side-counts stay in-plan (broadcast one-row aggregates), so
    # the whole query is a single job with no driver-side actions.
    n_build = build.agg(F.count(F.lit(1)).cast("long").alias("n_build"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    summary = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("all_set").cast("long").alias("n_bloom_hits"),
        F.sum("is_member").cast("long").alias("n_true_members"),
        F.sum(
            ((F.col("all_set") == 1) & (F.col("is_member") == 0)).cast("int")
        ).cast("long").alias("n_false_positives"),
        F.sum(
            ((F.col("all_set") == 0) & (F.col("is_member") == 1)).cast("int")
        ).cast("long").alias("n_false_negatives"),
    )
    return (
        summary.crossJoin(F.broadcast(n_build))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_build",
            "n_bits_set",
            "n_probes",
            "n_bloom_hits",
            "n_true_members",
            "n_false_positives",
            "n_false_negatives",
        )
    )


# =========================================================================
# Time series: interpolation gap-fill, marker-reset running sums,
# rolling covariance
# =========================================================================


@register(
    "time_bucket_interpolate",
    """
    WITH sparse AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS revenue
      FROM orders WHERE o_orderpriority = '1-URGENT'
      GROUP BY CAST(o_orderdate AS DATE)
    ), bounds AS (SELECT min(d) AS mind, max(d) AS maxd FROM sparse),
    spine AS (
      SELECT CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY)) AS DATE)
        AS d
      FROM bounds
    ), joined AS (
      SELECT s.d, sp.revenue FROM spine s LEFT JOIN sparse sp ON sp.d = s.d
    ), anchored AS (
      SELECT d, revenue,
             last_value(revenue IGNORE NULLS) OVER wp AS prev_v,
             last_value(CASE WHEN revenue IS NOT NULL THEN d END IGNORE NULLS)
               OVER wp AS prev_d,
             first_value(revenue IGNORE NULLS) OVER wn AS next_v,
             first_value(CASE WHEN revenue IS NOT NULL THEN d END IGNORE NULLS)
               OVER wn AS next_d
      FROM joined
      WINDOW wp AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW),
             wn AS (ORDER BY d ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING)
    )
    SELECT d, revenue,
           CASE
             WHEN revenue IS NOT NULL THEN CAST(revenue AS DOUBLE)
             WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
             ELSE (CAST(prev_v AS DOUBLE) * (next_d - d)
                   + CAST(next_v AS DOUBLE) * (d - prev_d))
                  / (next_d - prev_d)
           END AS revenue_interp
    FROM anchored
    """,
    doc="Linear-interpolation gap fill (the time_bucket_gapfill / "
        "interpolate operator of timeseries stores): dense spine over a "
        "SPARSE daily series, each missing day filled from its "
        "bracketing known points weighted by day distance. Forward-fill "
        "(date_spine_gap_fill) repeats stale values; interpolation is "
        "what rate-like metrics need. Aggregate-first: windows run over "
        "|days| rows. The fill is one IEEE division of exactly-"
        "representable decimal-scaled operands — deterministic in both "
        "engines, so the hash check covers the interpolated values too; "
        "edge days with no bracket on one side stay NULL",
)
def time_bucket_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    sparse = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("revenue"))
    )
    bounds = sparse.agg(F.min("d").alias("mind"), F.max("d").alias("maxd"))
    spine = bounds.select(F.explode(F.sequence("mind", "maxd")).alias("d"))
    joined = spine.join(sparse, "d", "left")
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    known_d = F.when(F.col("revenue").isNotNull(), F.col("d"))
    anchored = joined.select(
        "d",
        "revenue",
        F.last("revenue", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(known_d, ignorenulls=True).over(wp).alias("prev_d"),
        F.first("revenue", ignorenulls=True).over(wn).alias("next_v"),
        F.first(known_d, ignorenulls=True).over(wn).alias("next_d"),
    )
    interp = (
        F.col("prev_v").cast("double") * F.datediff("next_d", "d")
        + F.col("next_v").cast("double") * F.datediff("d", "prev_d")
    ) / F.datediff("next_d", "prev_d")
    return anchored.select(
        "d",
        "revenue",
        F.when(F.col("revenue").isNotNull(), F.col("revenue").cast("double"))
        .when(F.col("prev_v").isNull() | F.col("next_v").isNull(), F.lit(None))
        .otherwise(interp)
        .alias("revenue_interp"),
    )


@register(
    "running_sum_reset_on_marker",
    """
    WITH seg AS (
      SELECT event_id, user_id, ts, event_type,
             CAST(value AS DECIMAL(18,2)) AS v,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS seg
      FROM events
    )
    SELECT event_id, user_id, CAST(seg AS BIGINT) AS seg,
           CAST(SUM(v) OVER (PARTITION BY user_id, seg
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(18,2)) AS run_val
    FROM seg
    """,
    doc="Running sum that RESETS at marker events (accumulated activity "
        "value since the user's last purchase) — the cursor-style 'reset "
        "accumulator' re-expressed set-based: a strictly-preceding "
        "marker count assigns each row a segment id, then an ordinary "
        "running sum partitioned by (user, segment). The marker row "
        "closes its own segment; the next row starts at zero. Two "
        "window passes over the SAME (user, ts) sort order, so Spark "
        "plans one exchange + one sort for both",
)
def running_sum_reset_on_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_mark = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").cast(AMOUNT).alias("v"),
        F.coalesce(
            F.sum((F.col("event_type") == "purchase").cast("int")).over(w_mark),
            F.lit(0),
        ).alias("seg"),
    )
    w_run = (
        Window.partitionBy("user_id", "seg")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return seg.select(
        "event_id",
        "user_id",
        F.col("seg").cast("long").alias("seg"),
        F.sum("v").over(w_run).cast(AMOUNT).alias("run_val"),
    )


@register(
    "rolling_cov_manual",
    """
    WITH t AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS DECIMAL(9,2))       AS x,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS y,
             CAST(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))
                  AS DECIMAL(18,4)) AS xy
      FROM lineitem
    ), framed AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             COUNT(*) OVER w                              AS n,
             CAST(SUM(x) OVER w AS DECIMAL(12,2))         AS sx,
             CAST(SUM(y) OVER w AS DECIMAL(15,2))         AS sy,
             CAST(SUM(xy) OVER w AS DECIMAL(21,4))        AS sxy
      FROM t
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_orderkey, l_linenumber, x, y
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(n AS BIGINT) AS n,
           CAST(CAST(n AS DECIMAL(3,0)) * sxy - sx * sy AS DECIMAL(27,4))
             AS cov_num,
           CAST(CAST(CAST(n AS DECIMAL(3,0)) * sxy - sx * sy AS DECIMAL(27,4))
                AS DOUBLE) / (n * n) AS cov_biased
    FROM framed
    """,
    doc="Rolling covariance over a trailing 7-row frame per supplier — "
        "the pairwise-stats twin of rolling_zscore_anomaly. Native "
        "covar_samp over a sliding frame hits FP accumulation-order "
        "divergence between engines, so the moment sums (Σx, Σy, Σxy) "
        "stay DECIMAL inside the frame and combine as "
        "n·Σxy − Σx·Σy, exact at bounded precision; the final biased "
        "covariance is one IEEE division by n². Frame ordering: this "
        "synthetic lineitem has DUPLICATE (l_orderkey, l_linenumber) "
        "pairs within a supplier at sf0.01+, so the measures (x, y) "
        "join the sort key as final tie-breaks — remaining ties are "
        "full duplicates whose exchange cannot change any frame sum",
)
def rolling_cov_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(9,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    t = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        x.alias("x"),
        y.alias("y"),
        (x * y).cast("decimal(18,4)").alias("xy"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "x", "y")
        .rowsBetween(-6, Window.currentRow)
    )
    framed = t.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).cast("decimal(12,2)").alias("sx"),
        F.sum("y").over(w).cast("decimal(15,2)").alias("sy"),
        F.sum("xy").over(w).cast("decimal(21,4)").alias("sxy"),
    )
    cov_num = (
        F.col("n").cast("decimal(3,0)") * F.col("sxy")
        - F.col("sx") * F.col("sy")
    ).cast("decimal(27,4)")
    return framed.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("n").cast("long").alias("n"),
        cov_num.alias("cov_num"),
        (cov_num.cast("double") / (F.col("n") * F.col("n"))).alias("cov_biased"),
    )


# =========================================================================
# Search and ranking: inverted index, positional phrase search,
# Pareto frontier, Gini-impurity diversity
# =========================================================================


@register(
    "inverted_index_postings",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    )
    SELECT term,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS tf,
           array_to_string(
             list_transform(list_sort(list(DISTINCT doc_id)),
                            x -> CAST(x AS VARCHAR)), ',') AS postings_csv
    FROM toks GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 25
    """,
    doc="Inverted-index build: term → (document frequency, term "
        "frequency, sorted posting list) — the search-engine core "
        "structure, one token shuffle keyed by term. Postings surface "
        "as a sorted CSV because collection order is partition-"
        "dependent (the array_agg_sorted rule); at 100 TB postings "
        "for head terms are block-compressed per shard rather than "
        "concatenated, but the build shuffle is identical. df >= 25 "
        "keeps the checked slice to the head of the vocabulary",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(_TOKENS)).alias("term"))
    return (
        toks.groupBy("term")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("df"),
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_csv"),
        )
        .filter(F.col("df") >= 25)
    )


@register(
    "phrase_search_positional",
    f"""
    WITH pos AS (
      SELECT doc_id,
             unnest({_TOKENS_SQL}) AS term,
             unnest(range(1, len({_TOKENS_SQL}) + 1)) AS p
      FROM documents
    ),
    bigrams AS (
      SELECT a.term AS w1, b.term AS w2, COUNT(*) AS n
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      GROUP BY a.term, b.term
    ),
    phrase AS (
      SELECT w1, w2 FROM bigrams ORDER BY n DESC, w1, w2 LIMIT 1
    )
    SELECT a.doc_id, any_value(ph.w1) AS w1, any_value(ph.w2) AS w2,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM pos a
    JOIN phrase ph ON a.term = ph.w1
    JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1 AND b.term = ph.w2
    GROUP BY a.doc_id
    """,
    doc="Positional phrase search through the index, not a string scan: "
        "tokens keep their positions, the phrase (chosen in-query as "
        "the corpus's top bigram, deterministic tie-break) matches via "
        "a (doc, position+1) self-join — the adjacency-join formulation "
        "every positional inverted index uses. Spark plans the phrase "
        "as a one-row broadcast against the position table; at 100 TB "
        "the position table is the stored index, bucketed by term, and "
        "the join touches only the two terms' postings",
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        F.posexplode(F.expr(_TOKENS)).alias("p0", "term"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "term")
    adj = pos.alias("a").join(
        pos.alias("b"),
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.p") == F.col("a.p") + 1),
    )
    bigrams = adj.groupBy(
        F.col("a.term").alias("w1"), F.col("b.term").alias("w2")
    ).agg(F.count(F.lit(1)).alias("n"))
    phrase = bigrams.orderBy(F.col("n").desc(), "w1", "w2").limit(1).select(
        "w1", "w2"
    )
    hits = (
        pos.alias("a")
        .join(F.broadcast(phrase.alias("ph")), F.col("a.term") == F.col("ph.w1"))
        .join(
            pos.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.p") == F.col("a.p") + 1)
            & (F.col("b.term") == F.col("ph.w2")),
        )
    )
    return hits.groupBy(F.col("a.doc_id").alias("doc_id")).agg(
        F.any_value(F.col("ph.w1")).alias("w1"),
        F.any_value(F.col("ph.w2")).alias("w2"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )


@register(
    "pareto_frontier_2d",
    """
    WITH pts AS (
      SELECT DISTINCT CAST(p_retailprice AS DECIMAL(12,2)) AS price, p_size
      FROM part
    ),
    ranked AS (
      SELECT price, p_size,
             MIN(p_size) OVER (ORDER BY price, p_size
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS best_size_so_far
      FROM pts
    )
    SELECT CAST(price AS DOUBLE) AS price, CAST(p_size AS INTEGER) AS p_size
    FROM ranked
    WHERE best_size_so_far IS NULL OR p_size < best_size_so_far
    """,
    doc="Pareto frontier / skyline (minimize price AND size): the 2-D "
        "case collapses to sort-by-x + running-min-of-y — a point "
        "survives iff it strictly improves the best y seen so far, one "
        "window pass instead of the quadratic NOT-EXISTS dominance "
        "scan. Distinct pairs first so duplicate points can't self-"
        "dominate. The window is over DISTINCT (price, size) pairs — "
        "bounded by value-domain size, not table size, so the "
        "unpartitioned frame is safe at scale",
)
def pareto_frontier_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    pts = p.select(
        F.col("p_retailprice").cast("decimal(12,2)").alias("price"), "p_size"
    ).distinct()
    w = Window.orderBy("price", "p_size").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = pts.withColumn("best_size_so_far", F.min("p_size").over(w))
    return ranked.filter(
        F.col("best_size_so_far").isNull()
        | (F.col("p_size") < F.col("best_size_so_far"))
    ).select(
        F.col("price").cast("double").alias("price"),
        F.col("p_size").cast("int").alias("p_size"),
    )


@register(
    "gini_impurity_by_group",
    """
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    agg AS (
      SELECT user_id,
             SUM(c) AS total,
             SUM(c * c) AS sum_sq,
             COUNT(*) AS n_types
      FROM cnt GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(total * total - sum_sq AS BIGINT) AS gini_num,
           CAST(total * total AS BIGINT) AS gini_den,
           CAST(total * total - sum_sq AS DOUBLE) / (total * total)
             AS gini_impurity
    FROM agg
    """,
    doc="Gini impurity (1 - sum p_i^2) of each user's event-type mix — "
        "the diversity/concentration metric that needs NO logarithm, "
        "unlike Shannon entropy whose libm ln() is not bit-portable "
        "across engines. Kept exact-rational (numerator, denominator "
        "as BIGINT) with one IEEE division at the end, so the hash "
        "check covers the ratio too. Two aggregations, both keyed on "
        "user — the second collapses type-level counts, so the heavy "
        "shuffle is the first and only fact-sized one",
)
def gini_impurity_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = cnt.groupBy("user_id").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        F.count(F.lit(1)).alias("n_types"),
    )
    num = F.col("total") * F.col("total") - F.col("sum_sq")
    den = F.col("total") * F.col("total")
    return agg.select(
        "user_id",
        F.col("n_types").cast("long").alias("n_types"),
        num.cast("long").alias("gini_num"),
        den.cast("long").alias("gini_den"),
        (num.cast("double") / den).alias("gini_impurity"),
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
# k-anonymity audit (privacy curation)
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
