"""Function-surface registry entries: math, NULL semantics, conditional and
arg-extremum aggregates, positional explode, regexp extract-all,
null-safe joins, the map/struct surface, bitwise aggregates, exact
median/IQR, deterministic mode, bounded rows-frame moving aggregates,
cross-engine hazard pins, the Spark 4 SQL surface (recursive CTE,
LATERAL, pipe syntax, collations), gap fill, business-day arithmetic,
and source-format roundtrips (XML, parquet mergeSchema).

Each query pins the CROSS-ENGINE CONVENTIONS — the return-type and
edge-case differences between Spark and ANSI engines that silently
corrupt results when code is ported (ceil's return type, null-safe
equality spelling, arg-extremum tie behavior). The oracle states the
*semantics* (what values come out), not the mechanism. Functions whose
cross-library results are not bit-reproducible (ln/exp/pow with
non-integer args — libm-dependent last-ulp; round-half on arbitrary
doubles — tie-mode differs) are deliberately EXCLUDED; sqrt and integer
powers are IEEE-exact and included.

Bounded sliding frames exercise a different executor path from the
UNBOUNDED PRECEDING running sums (Spark keeps a sliding frame buffer;
DuckDB uses segment trees), so FP-order bugs hide there unless sums are
exact: all sliding sums run in DECIMAL(18,2) with ratios via IEEE
division. Mode is computed MANUALLY (count + row_number with a value
tiebreak) in both engines: native ``mode()`` leaves tie order
implementation-defined.

Hazard pins — places where two reasonable engines silently disagree
unless the query author pins the semantics explicitly:
* Window NULL ordering: Spark ASC defaults to NULLS FIRST, DuckDB (and
  Postgres) to NULLS LAST — row_number over a nullable key differs on
  every partition containing a NULL unless the ordering is explicit.
* Regex replacement: Spark (Java regex) writes group references as $1
  and replaces ALL occurrences; DuckDB (RE2) writes \\1 and replaces
  only the FIRST unless the 'g' flag is passed. RE2 additionally
  rejects backreferences in the PATTERN, so portable queries keep
  groups in the replacement only.
* explode vs explode_outer: an inner explode silently DROPS rows whose
  array is empty; the outer form preserves them with NULL. Engines
  without explode_outer state it as unnest(CASE WHEN empty THEN [NULL]
  ELSE arr END).

The recursive CTE, LATERAL and pipe-syntax entries pin Spark 4 query
surface in the declarative forms a user migrating real SQL will write
(khop_reachability unrolls frontier joins by hand; w1_topk_per_group
does top-k with a window). Every ranking carries a unique id tie-break,
NULLS LAST pinned on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from etl_tj_project_spark.harness import register
from etl_tj_project_spark.schemas import AMOUNT
from etl_tj_project_spark.sources.testdata import load_table


# =========================================================================
# Math, NULL semantics, conditional and arg-extremum aggregates
# =========================================================================


@register(
    "math_function_pack",
    """
    SELECT p_partkey,
           abs(p_retailprice - 1000.0)                    AS abs_delta,
           CAST(ceil(p_retailprice) AS BIGINT)            AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT)           AS price_floor,
           CAST(sign(p_retailprice - 1000.0) AS INTEGER)  AS delta_sign,
           mod(p_size, 7)                                 AS size_mod7,
           sqrt(p_retailprice)                            AS price_sqrt,
           CAST(power(p_size, 2) AS DOUBLE)               AS size_sq,
           greatest(p_size, 25)                           AS size_hi,
           least(p_size, 25)                              AS size_lo
    FROM part
    """,
    doc="Math family with return types pinned: Spark ceil/floor yield "
        "LONG where DuckDB yields DOUBLE (cast both to BIGINT); sign is "
        "DOUBLE in Spark, pinned to INT; sqrt is IEEE-correctly-rounded "
        "on both engines so it hash-matches; power restricted to integer "
        "bases/exponents (libm-exact). ln/exp/round-half excluded — see "
        "module docstring",
)
def math_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    size = F.col("p_size")
    return p.select(
        "p_partkey",
        F.abs(price - 1000.0).alias("abs_delta"),
        F.ceil(price).cast("long").alias("price_ceil"),
        F.floor(price).cast("long").alias("price_floor"),
        F.signum(price - 1000.0).cast("int").alias("delta_sign"),
        (size % 7).alias("size_mod7"),
        F.sqrt(price).alias("price_sqrt"),
        F.pow(size, 2).cast("double").alias("size_sq"),
        F.greatest(size, F.lit(25)).alias("size_hi"),
        F.least(size, F.lit(25)).alias("size_lo"),
    )


@register(
    "null_semantics_pack",
    """
    SELECT c_custkey,
           nullif(c_mktsegment, 'BUILDING')               AS seg_nb,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'N/A') AS seg_or_na,
           (nullif(c_mktsegment, 'BUILDING')
              IS NOT DISTINCT FROM nullif(c_mktsegment, 'BUILDING'))
                                                          AS nullsafe_self,
           (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'AUTOMOBILE')
                                                          AS nullsafe_auto,
           (nullif(c_mktsegment, 'BUILDING') IS NULL)     AS was_building,
           CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
                THEN 'kept' ELSE 'dropped' END            AS nvl2_ish
    FROM customer
    """,
    doc="NULL-semantics family: NULLIF-manufactured nulls, COALESCE "
        "defaults, null-safe equality (Spark's <=> / eqNullSafe is ANSI "
        "IS NOT DISTINCT FROM — TRUE on null=null where plain = yields "
        "NULL), IS NULL flags, and the NVL2 conditional. These are the "
        "semantics the reference leans on implicitly (its left-join keys "
        "and to_bool_safe blanks all produce NULL groups, SURVEY §2.5)",
)
def null_semantics_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg.alias("seg_nb"),
        F.coalesce(seg, F.lit("N/A")).alias("seg_or_na"),
        seg.eqNullSafe(seg).alias("nullsafe_self"),
        seg.eqNullSafe(F.lit("AUTOMOBILE")).alias("nullsafe_auto"),
        seg.isNull().alias("was_building"),
        F.when(seg.isNotNull(), "kept").otherwise("dropped").alias("nvl2_ish"),
    )


@register(
    "conditional_agg_pack",
    """
    SELECT o_orderstatus,
           count_if(CAST(o_totalprice AS DOUBLE) > 200000.0) AS n_big,
           bool_or(o_orderpriority = '1-URGENT')          AS any_urgent,
           bool_and(o_orderpriority <> '5-LOW')           AS none_low,
           max_by(o_totalprice, o_orderkey)               AS price_of_last,
           min_by(o_totalprice, o_orderkey)               AS price_of_first,
           max(o_totalprice)                              AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Conditional / arg-extremum aggregates: count_if, bool_or/and, "
        "max_by/min_by. The arg-extremum ORDERING KEY is the unique "
        "o_orderkey — max_by over a non-unique key is tie-nondeterministic "
        "on both engines and would never hash-match; keying on the unique "
        "column is the deterministic idiom (the argmin_join_back query "
        "shows the window rewrite for non-unique keys)",
)
def conditional_agg_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice").cast("double") > 200000.0).alias(
            "n_big"
        ),
        F.bool_or(urgent).alias("any_urgent"),
        F.bool_and(F.col("o_orderpriority") != "5-LOW").alias("none_low"),
        F.max_by("o_totalprice", "o_orderkey").alias("price_of_last"),
        F.min_by("o_totalprice", "o_orderkey").alias("price_of_first"),
        F.max("o_totalprice").alias("max_price"),
    )


# =========================================================================
# Positional explode, regexp extract-all, null-safe joins, map/struct
# =========================================================================


@register(
    "posexplode_tokens",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END
               AS toks
      FROM documents WHERE doc_id < 50
    )
    SELECT t.doc_id, CAST(x.i - 1 AS INTEGER) AS pos, t.toks[CAST(x.i AS INTEGER)] AS term
    FROM t, UNNEST(range(1, len(t.toks) + 1)) AS x(i)
    """,
    doc="Positional explode (LATERAL VIEW posexplode): token with its "
        "0-based position — the order-preserving explode every sequence "
        "feature (n-gram windows, position embeddings) builds on. "
        "Engine-side explode, no Python",
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    with_toks = d.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array()).otherwise(toks).alias("toks"),
    )
    return with_toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    )


@register(
    "regexp_extract_all_numbers",
    r"""
    SELECT doc_id,
           coalesce(array_to_string(regexp_extract_all(text, '[0-9]+'), ','),
                    '') AS nums_csv,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER)
             AS n_nums,
           CASE WHEN len(regexp_extract_all(text, '[0-9]+')) > 0
                THEN regexp_extract_all(text, '[0-9]+')[1] END AS first_num
    FROM documents
    """,
    doc="regexp_extract_all: every digit run per document as an ordered "
        "array (left-to-right in both engines), plus count and first "
        "match — the extraction primitive behind PII scans and numeric "
        "claim mining. The ordered array is surfaced as its CSV string "
        "(scalar columns only — raw array cells break pandas-based "
        "canonicalizers downstream)",
)
def regexp_extract_all_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nums = F.regexp_extract_all("text", F.lit("[0-9]+"))
    return d.select(
        "doc_id",
        F.array_join(nums, ",").alias("nums_csv"),
        F.size(nums).alias("n_nums"),
        F.when(F.size(nums) > 0, F.element_at(nums, 1)).alias("first_num"),
    )


@register(
    "null_safe_join_agg",
    """
    WITH c AS (
      SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
      FROM customer
    ), labels AS (
      SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg,
             coalesce(nullif(c_mktsegment, 'BUILDING'), 'SUPPRESSED')
               AS seg_label
      FROM customer
    )
    SELECT l.seg_label, COUNT(*) AS n_customers
    FROM c JOIN labels l ON c.seg IS NOT DISTINCT FROM l.seg
    GROUP BY l.seg_label
    """,
    doc="Null-safe equality join (Spark <=> / eqNullSafe, SQL IS NOT "
        "DISTINCT FROM): NULL keys match each other instead of being "
        "dropped — the semantics needed when NULL is a real category "
        "(suppressed segment) rather than absence. Plain equi-join "
        "machinery applies, so it broadcasts/shuffles like any join",
)
def null_safe_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg")
    )
    labels = (
        c.select("seg").distinct()
        .select("seg", F.coalesce("seg", F.lit("SUPPRESSED")).alias("seg_label"))
    )
    return (
        c.join(F.broadcast(labels), c["seg"].eqNullSafe(labels["seg"]))
        .groupBy("seg_label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "map_struct_pack",
    """
    SELECT o_orderkey,
           o_orderstatus                                   AS status_via_map,
           CAST(2 AS INTEGER)                              AS map_size,
           'prio,status'                                   AS keys_sorted,
           o_orderpriority                                 AS prio_via_struct,
           o_orderstatus || ':' || o_orderpriority         AS packed
    FROM orders
    """,
    doc="Map/struct surface: create_map + element_at, map_keys (sorted "
        "for determinism), struct field access, struct->string packing. "
        "The oracle states the equivalent direct expressions — the pair "
        "checks Spark's map/struct functions produce exactly the "
        "underlying values. Maps/structs never cross the client "
        "boundary (engine reprs differ); only extracted scalars do",
)
def map_struct_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    st = F.struct(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_via_map"),
        F.size(m).alias("map_size"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        st.getField("p").alias("prio_via_struct"),
        F.concat_ws(":", st.getField("s"), st.getField("p")).alias("packed"),
    )


# =========================================================================
# Bitwise aggregates, exact median/IQR, deterministic mode, bounded
# rows-frame moving aggregates
# =========================================================================


@register(
    "bitwise_agg_pack",
    """
    SELECT l_linestatus,
           CAST(bit_and(l_partkey) AS BIGINT) AS pk_and,
           CAST(bit_or(l_partkey)  AS BIGINT) AS pk_or,
           CAST(bit_xor(l_partkey) AS BIGINT) AS pk_xor,
           CAST(bit_xor((l_orderkey % 1000000007) * 2654435761) AS BIGINT)
             AS ok_mix_xor
    FROM lineitem GROUP BY l_linestatus
    """,
    doc="Bitwise aggregates (bit_and/bit_or/bit_xor): order-independent "
        "by algebra, so they partial-aggregate map-side for free. The "
        "xor-of-multiplied-keys column is the classic order-insensitive "
        "set checksum used to verify replication/backfills without "
        "sorting — a useful primitive at 100 TB where sorting to "
        "compare is unaffordable. The key is reduced mod 1e9+7 BEFORE "
        "the Knuth-constant multiply so the product stays under 2^63 "
        "for ANY key magnitude — the unreduced form overflows BIGINT "
        "(an ANSI-mode error, a silent wrap elsewhere) once orderkeys "
        "pass ~3.5e9, i.e. exactly at the scale this checksum exists "
        "for",
)
def bitwise_agg_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.bit_and("l_partkey").cast("long").alias("pk_and"),
        F.bit_or("l_partkey").cast("long").alias("pk_or"),
        F.bit_xor("l_partkey").cast("long").alias("pk_xor"),
        F.bit_xor(
            (F.col("l_orderkey") % F.lit(1000000007)) * F.lit(2654435761)
        ).cast("long").alias("ok_mix_xor"),
    )


@register(
    "median_iqr_pack",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6)  AS qty_median,
           round(quantile_cont(l_quantity, 0.25), 6) AS qty_q1,
           round(quantile_cont(l_quantity, 0.75), 6) AS qty_q3,
           round(quantile_cont(l_quantity, 0.75)
                 - quantile_cont(l_quantity, 0.25), 6) AS qty_iqr
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact median + interquartile range per group (the robust "
        "dispersion profile dq checks use where stddev is outlier-"
        "fragile). Spark `percentile` == DuckDB `quantile_cont` (linear "
        "interpolation on the sorted set). Exact percentiles sort "
        "per-group; the 100 TB path swaps in approx_percentile with "
        "bounded error (see approx_percentile_profile) — this entry is "
        "the exactness anchor the approximation is measured against",
)
def median_iqr_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = lambda p: F.percentile("l_quantity", F.lit(p))  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        F.round(q(0.5), 6).alias("qty_median"),
        F.round(q(0.25), 6).alias("qty_q1"),
        F.round(q(0.75), 6).alias("qty_q3"),
        F.round(q(0.75) - q(0.25), 6).alias("qty_iqr"),
    )


@register(
    "mode_top1_per_group",
    """
    SELECT o_orderpriority, o_orderstatus AS mode_status, cnt
    FROM (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY COUNT(*) DESC, o_orderstatus) AS rn
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ) t WHERE rn = 1
    """,
    doc="Deterministic mode per group: count + row_number with a value "
        "tiebreak, NOT native mode() — both engines leave mode()'s tie "
        "order implementation-defined, the exact nondeterminism the "
        "parity gate exists to catch. Plan: one (group, value) shuffle "
        "of count partials, then a window over the tiny distinct set",
)
def mode_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cnt").desc(), "o_orderstatus"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            "cnt",
        )
    )


@register(
    "moving_agg_rows_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(n_in_frame AS BIGINT) AS n_in_frame,
           CAST(sum_4 AS DECIMAL(18,2)) AS sum_4,
           CAST(sum_4 AS DOUBLE) / n_in_frame AS avg_4,
           CAST(min_4 AS DECIMAL(18,2)) AS min_4,
           CAST(max_4 AS DECIMAL(18,2)) AS max_4
    FROM (
      SELECT o_custkey, o_orderkey,
             COUNT(*) OVER w AS n_in_frame,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS sum_4,
             MIN(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS min_4,
             MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS max_4
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ) t
    """,
    doc="BOUNDED sliding rows frame (moving sum/avg/min/max over the "
        "last 4 orders per customer) — every other registered window "
        "uses an unbounded running frame; the bounded frame exercises "
        "the sliding-buffer executor path (Spark) vs segment trees "
        "(DuckDB), where FP addition order differs — hence DECIMAL "
        "sums (exact, order-free) and the avg as BIGINT-count IEEE "
        "division. One custkey window shuffle, frame state is O(4)",
)
def moving_agg_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-3, Window.currentRow)
    )
    amt = F.col("o_totalprice").cast(AMOUNT)
    framed = o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_in_frame"),
        F.sum(amt).over(w).alias("sum_4"),
        F.min(amt).over(w).alias("min_4"),
        F.max(amt).over(w).alias("max_4"),
    )
    return framed.select(
        "o_custkey",
        "o_orderkey",
        F.col("n_in_frame").cast("long").alias("n_in_frame"),
        F.col("sum_4").cast(AMOUNT).alias("sum_4"),
        (F.col("sum_4").cast("double") / F.col("n_in_frame")).alias("avg_4"),
        F.col("min_4").cast(AMOUNT).alias("min_4"),
        F.col("max_4").cast(AMOUNT).alias("max_4"),
    )


@register(
    "running_distinct_count",
    """
    SELECT event_id, user_id,
           CAST(SUM(is_first) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_types_so_far
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) = 1 THEN 1 ELSE 0 END AS is_first
      FROM events
    ) t
    """,
    doc="COUNT(DISTINCT) OVER a running window — which neither engine "
        "supports natively — via the standard rewrite: flag each "
        "(user, event_type)'s FIRST occurrence with row_number, then "
        "running-SUM the flags. Two window passes over the same "
        "user-keyed shuffle (Catalyst reuses the exchange when the "
        "partition key matches); integer flags, so cross-engine exact. "
        "The 100 TB property: state per row is one bit, vs the naive "
        "per-frame set materialization that is quadratic in frame size",
)
def running_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "is_first"
        ),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w_run).cast("long").alias(
            "distinct_types_so_far"
        ),
    )


@register(
    "approx_distinct_kmv",
    """
    WITH h AS (
      SELECT DISTINCT l_linestatus,
             CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM lineitem
    ), ranked AS (
      SELECT l_linestatus, hv,
             row_number() OVER (PARTITION BY l_linestatus ORDER BY hv) AS rk,
             COUNT(*) OVER (PARTITION BY l_linestatus) AS n_distinct_hashes
      FROM h
    )
    SELECT l_linestatus,
           CAST(n_distinct_hashes AS BIGINT) AS n_distinct_hashes,
           CAST(hv AS BIGINT) AS kth_hash,
           CASE WHEN n_distinct_hashes >= 64
                THEN CAST(63 * 4294967296.0 / hv AS DOUBLE)
                ELSE CAST(n_distinct_hashes AS DOUBLE) END AS est_distinct
    FROM ranked WHERE rk = least(64, n_distinct_hashes)
    """,
    doc="K-minimum-values distinct sketch (k=64) over md5 — unlike HLL "
        "(whose register layout is engine-private, hence the rows-only "
        "approx_count_distinct), KMV on a portable hash is "
        "DETERMINISTIC: both engines compute identical sketches, so "
        "this sketch entry carries a full oracle hash check. Estimator "
        "(k-1)/u_k with u_k = k-th smallest hash normalized by 2^32; "
        "below k distinct values the sketch IS the exact count. The "
        "sketch is mergeable (union = k smallest of the union), which "
        "is what makes it a partial-aggregatable distinct count at "
        "100 TB and a bounded state for streaming distinct",
)
def approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    hv = F.conv(
        F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    h = li.select("l_linestatus", hv.alias("hv")).distinct()
    w_rank = Window.partitionBy("l_linestatus").orderBy("hv")
    w_all = Window.partitionBy("l_linestatus")
    ranked = h.select(
        "l_linestatus",
        "hv",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_distinct_hashes"),
    )
    k = F.least(F.lit(64), F.col("n_distinct_hashes"))
    return ranked.filter(F.col("rk") == k).select(
        "l_linestatus",
        F.col("n_distinct_hashes").cast("long").alias("n_distinct_hashes"),
        F.col("hv").cast("long").alias("kth_hash"),
        F.when(
            F.col("n_distinct_hashes") >= 64,
            (F.lit(63) * F.lit(4294967296.0) / F.col("hv")).cast("double"),
        )
        .otherwise(F.col("n_distinct_hashes").cast("double"))
        .alias("est_distinct"),
    )


@register(
    "full_outer_reconcile",
    """
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             COUNT(*) AS order_cnt
      FROM orders GROUP BY 1
    ), l AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             COUNT(*) AS line_cnt
      FROM lineitem GROUP BY 1
    )
    SELECT coalesce(o.day, l.day) AS day,
           CAST(coalesce(o.order_cnt, 0) AS BIGINT) AS order_cnt,
           CAST(coalesce(l.line_cnt, 0) AS BIGINT) AS line_cnt,
           CASE WHEN o.day IS NULL THEN 'ship_only'
                WHEN l.day IS NULL THEN 'order_only'
                ELSE 'both' END AS presence
    FROM o FULL OUTER JOIN l ON l.day = o.day
    """,
    doc="FULL OUTER reconciliation — the two-system audit shape "
        "(orders-by-day vs shipments-by-day, which days exist on only "
        "one side) and the one outer-join variant no other registered "
        "query exercises. Both inputs pre-aggregate to day grain "
        "BEFORE the join, so the full-outer shuffle moves day-sized "
        "tables, not facts — at 100 TB that ordering is the difference "
        "between a KB-scale join and a fact-scale one",
)
def full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("order_cnt"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("line_cnt"))
    )
    j = o.join(li, "day", "full_outer")
    return j.select(
        "day",
        F.coalesce("order_cnt", F.lit(0)).cast("long").alias("order_cnt"),
        F.coalesce("line_cnt", F.lit(0)).cast("long").alias("line_cnt"),
        F.when(F.col("order_cnt").isNull(), "ship_only")
        .when(F.col("line_cnt").isNull(), "order_only")
        .otherwise("both")
        .alias("presence"),
    )


@register(
    "not_in_null_semantics",
    """
    SELECT
      (SELECT COUNT(*) FROM customer
       WHERE c_nationkey NOT IN
         (SELECT nullif(n_nationkey, 3) FROM nation)) AS cnt_with_null,
      (SELECT COUNT(*) FROM customer
       WHERE c_nationkey NOT IN
         (SELECT nullif(n_nationkey, 3) FROM nation
          WHERE nullif(n_nationkey, 3) IS NOT NULL)) AS cnt_null_filtered
    """,
    doc="NOT IN three-valued-logic trap, pinned cross-engine: when the "
        "subquery list contains a NULL, `x NOT IN (...)` is never TRUE "
        "(x <> NULL is UNKNOWN), so cnt_with_null is 0 no matter the "
        "data — the single most common silent-wrong-answer migration "
        "bug from engines/code that treated NOT IN as an anti-join. "
        "The null-filtered twin column shows the intended count. "
        "Spark plans the null-aware case as a special anti join "
        "(NAAJ); writing the filter explicitly is what keeps the plan "
        "a plain broadcast anti join at scale",
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    c.createOrReplaceTempView("__niv_customer")
    n.createOrReplaceTempView("__niv_nation")
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM __niv_customer
           WHERE c_nationkey NOT IN
             (SELECT nullif(n_nationkey, 3) FROM __niv_nation))
            AS cnt_with_null,
          (SELECT COUNT(*) FROM __niv_customer
           WHERE c_nationkey NOT IN
             (SELECT nullif(n_nationkey, 3) FROM __niv_nation
              WHERE nullif(n_nationkey, 3) IS NOT NULL))
            AS cnt_null_filtered
        """
    )


@register(
    "variant_json_extract",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
           CAST(CAST(json_extract(props, '$.k') AS INTEGER) % 10 = 0
                AS BOOLEAN) AS k_decade
    FROM events
    """,
    doc="Semi-structured access through Spark 4's VARIANT type "
        "(parse_json -> variant_get) rather than per-query string "
        "parsing — VARIANT parses once into a binary form that "
        "downstream accesses reuse, the engine-native answer to "
        "schema-on-read JSON at scale (the json_extract_typed entry is "
        "the classic get_json_object twin of the same access). Typed "
        "extraction (`$.k` as int) casts inside the variant reader",
)
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return e.select(
        "event_id",
        k.alias("k_int"),
        (k % 10 == 0).alias("k_decade"),
    )


@register(
    "try_arithmetic_pack",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber - 1 = 0 THEN NULL
                ELSE CAST(l_quantity AS DOUBLE) / (l_linenumber - 1) END
             AS qty_per_prev_line,
           try_cast(l_returnflag AS INTEGER) AS rflag_as_int,
           try_cast(CAST(l_linenumber AS VARCHAR) || '0' AS INTEGER)
             AS synth_int,
           CASE WHEN l_quantity >= 0
                THEN CAST(floor(sqrt(CAST(l_quantity AS DOUBLE)))
                          AS BIGINT) END AS qty_isqrt
    FROM lineitem
    """,
    doc="NULL-on-failure arithmetic — the Spark 4 ANSI-mode migration "
        "surface: under ANSI (ON in any vanilla Spark 4 session), bare "
        "division by zero and failed casts THROW, so production "
        "expressions must be try_divide/try_cast or explicit guards. "
        "This entry pins the try_* semantics cross-engine (DuckDB "
        "try_cast matches; try_divide is stated as the explicit "
        "zero-guard CASE both engines agree on; the failing cast column "
        "proves NULL-not-throw, the succeeding one proves values). The "
        "verify-recipe "
        "gotcha ('any cast that can fail must be try_cast') as a "
        "registered, hash-checked contract instead of tribal knowledge",
)
def try_arithmetic_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_quantity").cast("double"), F.col("l_linenumber") - 1
        ).alias("qty_per_prev_line"),
        F.try_to_number("l_returnflag", F.lit("999")).cast("int").alias(
            "rflag_as_int"
        ),
        F.try_to_number(
            F.concat(F.col("l_linenumber").cast("string"), F.lit("0")),
            F.lit("999"),
        ).cast("int").alias("synth_int"),
        F.when(
            F.col("l_quantity") >= 0,
            F.floor(F.sqrt(F.col("l_quantity").cast("double"))).cast("long"),
        ).alias("qty_isqrt"),
    )


@register(
    "yoy_growth_accounts",
    """
    WITH yearly AS (
      SELECT o_custkey, CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS spend
      FROM orders GROUP BY 1, 2
    )
    SELECT o_custkey, yr,
           CAST(spend AS DECIMAL(18,2)) AS spend,
           CAST(prev_spend AS DECIMAL(18,2)) AS prev_spend,
           CASE WHEN prev_yr = yr - 1 AND prev_spend > 0
                THEN CAST(spend AS DOUBLE) / CAST(prev_spend AS DOUBLE)
           END AS yoy_ratio
    FROM (
      SELECT o_custkey, yr, spend,
             lag(spend) OVER w AS prev_spend,
             lag(yr)    OVER w AS prev_yr
      FROM yearly
      WINDOW w AS (PARTITION BY o_custkey ORDER BY yr)
    ) t
    """,
    doc="Year-over-year account growth — the classic warehouse KPI "
        "shape: aggregate to (customer, year) grain FIRST (decimal-"
        "exact), then lag within customer ordered by year, with the "
        "adjacent-year guard (a gap year yields NULL, not a bogus "
        "multi-year ratio — the correctness detail naive lag misses). "
        "One (custkey, yr) aggregation shuffle; the window rides the "
        "same custkey partitioning",
)
def yoy_growth_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        "o_custkey", F.year("o_orderdate").alias("yr")
    ).agg(F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("spend"))
    w = Window.partitionBy("o_custkey").orderBy("yr")
    lagged = yearly.select(
        "o_custkey",
        "yr",
        "spend",
        F.lag("spend").over(w).alias("prev_spend"),
        F.lag("yr").over(w).alias("prev_yr"),
    )
    return lagged.select(
        "o_custkey",
        "yr",
        F.col("spend").cast(AMOUNT).alias("spend"),
        F.col("prev_spend").cast(AMOUNT).alias("prev_spend"),
        F.when(
            (F.col("prev_yr") == F.col("yr") - 1) & (F.col("prev_spend") > 0),
            F.col("spend").cast("double") / F.col("prev_spend").cast("double"),
        ).alias("yoy_ratio"),
    )


@register(
    "wau_rolling_distinct",
    """
    WITH active AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), replicated AS (
      SELECT CAST(day + INTERVAL (o.off) DAY AS DATE) AS window_day,
             user_id
      FROM active
      CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o
    ), bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS min_day,
             MAX(CAST(ts AS DATE)) AS max_day
      FROM events
    )
    SELECT r.window_day,
           CAST(COUNT(DISTINCT r.user_id) AS BIGINT) AS wau
    FROM replicated r, bounds b
    WHERE r.window_day BETWEEN b.min_day AND b.max_day
    GROUP BY r.window_day
    """,
    doc="Rolling 7-day distinct users (WAU) — the engagement KPI that "
        "needs a SLIDING DISTINCT, which windowed count_distinct "
        "cannot express: each (day, user) activity row replicates into "
        "the 7 window-days it contributes to (map-side 7x fan-out of "
        "the already-distinct day-grain table, NOT of raw events), "
        "then one exact count_distinct per window day. At 100 TB the "
        "fan-out input is |days x active users|, orders smaller than "
        "the event stream; the distinct is one (window_day) shuffle "
        "with partial distinct. Trailing semantics: day d counts users "
        "active in (d-6 .. d]; days past the data edge are clipped",
)
def wau_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    replicated = active.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
        "user_id",
    ).select(
        F.date_add(F.col("day"), F.col("off")).alias("window_day"),
        "user_id",
    )
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("min_day"),
        F.max(F.col("ts").cast("date")).alias("max_day"),
    )
    return (
        replicated.crossJoin(F.broadcast(bounds))
        .filter(F.col("window_day").between(F.col("min_day"), F.col("max_day")))
        .groupBy("window_day")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )


@register(
    "skewed_distinct_two_phase",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
    doc="Two-phase COUNT(DISTINCT) under group-key skew: phase 1 "
        "distincts (group, salt, user) partitions — the hot group's "
        "distinct work spreads across 16 salt buckets instead of one "
        "reducer — phase 2 merges per-salt distinct counts (exact: "
        "salting by hash(user) makes per-salt user sets DISJOINT, so "
        "counts ADD). The oracle is the plain single-phase distinct, "
        "proving the rewrite result-identical — same proof pattern as "
        "skew_salted_join / skewed_window_two_phase. A 5-value "
        "event_type over 10^9 users serializes into 5 reducers "
        "without this; with it, parallelism is |groups| x 16",
)
def skewed_distinct_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    salted = e.select(
        "event_type",
        F.pmod(F.xxhash64("user_id"), F.lit(16)).alias("salt"),
        "user_id",
    )
    per_salt = (
        salted.groupBy("event_type", "salt")
        .agg(F.count_distinct("user_id").alias("nd"))
    )
    return per_salt.groupBy("event_type").agg(
        F.sum("nd").cast("long").alias("n_users")
    )


@register(
    "month_end_clamp_pack",
    """
    SELECT o_orderkey,
           CAST(d AS DATE) AS order_day,
           CAST(d + INTERVAL 1 MONTH AS DATE) AS next_month,
           CAST(d - INTERVAL 1 MONTH AS DATE) AS prev_month,
           last_day(d) AS month_end,
           d = last_day(d) AS is_month_end
    FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders) t
    """,
    doc="Month-arithmetic clamping pinned cross-engine: Jan 31 + 1 "
        "month = Feb 29 (clamp to target month end) in BOTH Spark "
        "add_months and DuckDB interval addition — but only because "
        "both clamp; engines that overflow into March silently shift "
        "every month-end billing row. last_day and the is-month-end "
        "flag ride along (the month-grain partition boundary used by "
        "retention/billing rollups)",
)
def month_end_clamp_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("order_day"),
        F.add_months(d, 1).alias("next_month"),
        F.add_months(d, -1).alias("prev_month"),
        F.last_day(d).alias("month_end"),
        (d == F.last_day(d)).alias("is_month_end"),
    )


@register(
    "array_setops_pack",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN trim(text) = ''
                  THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END)
               AS toks,
             list_distinct(regexp_split_to_array(
               'the scan join order window batch', ' ')) AS probe
      FROM documents
    )
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_intersect(toks, probe)),
             ','), '') AS inter_csv,
           coalesce(array_to_string(list_sort(list_filter(toks,
             x -> NOT list_contains(probe, x))), ','), '') AS minus_csv,
           CAST(len(list_intersect(toks, probe)) AS BIGINT) AS n_common
    FROM t
    """,
    doc="Array set operations (intersect / except over per-doc token "
        "sets vs a probe vocabulary) — surfaced as SORTED CSV strings "
        "because the engines' native set ops disagree on element ORDER "
        "(Spark preserves first-argument order, DuckDB does not "
        "guarantee one): sort-then-join is the only hashable contract. "
        "All in-row higher-order functions, no shuffle",
)
def array_setops_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(
        F.when(F.trim("text") == "", F.array()).otherwise(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        )
    )
    probe = F.array_distinct(
        F.split(F.lit("the scan join order window batch"), " ")
    )
    with_sets = d.select(
        "doc_id",
        toks.alias("toks"),
        probe.alias("probe"),
    )
    inter = F.array_sort(F.array_intersect("toks", "probe"))
    minus = F.array_sort(F.array_except("toks", "probe"))
    return with_sets.select(
        "doc_id",
        F.array_join(inter, ",").alias("inter_csv"),
        F.array_join(minus, ",").alias("minus_csv"),
        F.size(F.array_intersect("toks", "probe")).cast("long").alias(
            "n_common"
        ),
    )


@register(
    "window_nth_lead_pack",
    """
    SELECT o_custkey, o_orderkey,
           nth_value(o_orderkey, 3) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS third_order_so_far,
           lead(o_orderkey, 1, -1) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS next_order_or_sentinel,
           lead(o_orderkey, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS order_after_next
    FROM orders
    """,
    doc="nth_value + lead-with-default — the two navigation functions "
        "the window packs hadn't pinned. nth_value runs over the "
        "RUNNING frame (NULL until the partition's 3rd row arrives — "
        "frame-sensitivity is the classic porting bug: the default "
        "full-partition frame would backfill it); lead's explicit "
        "default (-1) vs NULL-default two-step lead shows both "
        "out-of-partition behaviors. Deterministic order keys, one "
        "custkey window shuffle",
)
def window_nth_lead_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_orderkey", 3).over(w_run).alias("third_order_so_far"),
        F.lead("o_orderkey", 1, -1).over(w).alias("next_order_or_sentinel"),
        F.lead("o_orderkey", 2).over(w).alias("order_after_next"),
    )


@register(
    "scan_lineage_per_file",
    """
    SELECT 'lineitem.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
    doc="Scan lineage via METADATA COLUMNS: rows-per-source-file from "
        "Spark's hidden _metadata.file_name (DuckDB: the filename "
        "option) — the zero-cost provenance an ingest audit needs "
        "(which shard produced these rows) without writing a lineage "
        "column into the data. The oracle pins the testdata layout's "
        "known basename plus the per-file count, so the metadata VALUE "
        "is verified, not just its presence (the oracle's view surface "
        "cannot read filenames itself)",
)
def scan_lineage_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


@register(
    "share_of_parent_rollup",
    """
    WITH leaf AS (
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS qty
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           CAST(qty AS DECIMAL(18,2)) AS qty,
           CAST(qty AS DOUBLE)
             / CAST(SUM(qty) OVER (PARTITION BY l_returnflag) AS DOUBLE)
             AS share_of_flag,
           CAST(qty AS DOUBLE) / CAST(SUM(qty) OVER () AS DOUBLE)
             AS share_of_total
    FROM leaf
    """,
    doc="Share-of-parent analytics: leaf aggregate once (decimal-"
        "exact), then ratio-to-parent and ratio-to-grand-total via windows OVER "
        "THE AGGREGATE — the drill-down report shape. The empty-frame "
        "SUM() OVER () runs on the already-reduced leaf table (tens of "
        "rows), never the fact; computing shares by re-scanning per "
        "level would read the fact once per hierarchy level",
)
def share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    leaf = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(AMOUNT)).cast(AMOUNT).alias("qty")
    )
    w_flag = Window.partitionBy("l_returnflag")
    w_all = Window.partitionBy()
    return leaf.select(
        "l_returnflag",
        "l_linestatus",
        F.col("qty").cast(AMOUNT).alias("qty"),
        (
            F.col("qty").cast("double")
            / F.sum("qty").over(w_flag).cast("double")
        ).alias("share_of_flag"),
        (
            F.col("qty").cast("double")
            / F.sum("qty").over(w_all).cast("double")
        ).alias("share_of_total"),
    )


@register(
    "moment_stats_manual",
    """
    WITH sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))
                      * CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))
                      * CAST(l_quantity AS DECIMAL(38,6))
                      * CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(s1 / n, 9) AS mean_qty,
           round(s2 / n - (s1 / n) * (s1 / n), 9) AS var_pop,
           round(
             (s3 / n - 3 * (s1 / n) * (s2 / n) + 2
              * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 9) AS skew_pop
    FROM sums
    """,
    doc="Population mean/variance/skewness from RAW POWER SUMS "
        "(sum x, x^2, x^3 in exact DECIMAL, moments derived in double "
        "from the exact sums) — the one-pass MERGEABLE formulation: "
        "power sums partial-aggregate map-side and ADD across "
        "partitions/partials, which is how a 100 TB profile computes "
        "higher moments in a single scan. Native skewness()/kurtosis() "
        "differ between engines (sample vs population corrections); "
        "deriving from exact sums pins ONE definition bit-identically. "
        "round(9) absorbs the last-ulp of pow(x, 1.5)",
)
def moment_stats_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast(DecimalType(38, 6))
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n")
    m3 = F.col("s3") / F.col("n")
    var_pop = m2 - m1 * m1
    return sums.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(m1, 9).alias("mean_qty"),
        F.round(var_pop, 9).alias("var_pop"),
        F.round(
            (m3 - F.lit(3) * m1 * m2 + F.lit(2) * m1 * m1 * m1)
            / F.pow(var_pop, F.lit(1.5)),
            9,
        ).alias("skew_pop"),
    )


@register(
    "rfm_customer_segments",
    """
    WITH cust AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order,
           CAST(frequency AS BIGINT) AS frequency,
           CAST(monetary AS DECIMAL(18,2)) AS monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM (
      SELECT *,
             ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM cust
    ) t
    """,
    doc="RFM customer segmentation — the classic CRM shape: per-"
        "customer recency/frequency/monetary aggregates (decimal-"
        "exact), then quintile scores via ntile with custkey "
        "tie-breaks (engines order ties differently; an undetermined "
        "tie order flips segment labels). The global ntile runs over "
        "the CUSTOMER aggregate (one row per customer), not the fact "
        "— at 10^9 customers swap ntile for approx-quantile cutoffs "
        "joined back, same labels within sketch error",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias(
            "monetary"
        ),
    )
    r = F.ntile(5).over(Window.orderBy("last_order", "o_custkey"))
    fr = F.ntile(5).over(Window.orderBy("frequency", "o_custkey"))
    mo = F.ntile(5).over(Window.orderBy("monetary", "o_custkey"))
    scored = cust.select(
        "o_custkey",
        "last_order",
        F.col("frequency").cast("long").alias("frequency"),
        F.col("monetary").cast(AMOUNT).alias("monetary"),
        r.alias("r_score"),
        fr.alias("f_score"),
        mo.alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


@register(
    "basket_part_pairs_top50",
    """
    SELECT p_a, p_b, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM (
      SELECT DISTINCT a.l_orderkey,
             a.l_partkey AS p_a, b.l_partkey AS p_b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ) pairs
    GROUP BY p_a, p_b
    ORDER BY n_orders DESC, p_a, p_b LIMIT 50
    """,
    doc="Market-basket co-occurrence: part pairs appearing in the same "
        "order, top-50 by support with deterministic tie-breaks. The "
        "self-join fans out quadratically ONLY within an order (TPC-H "
        "baskets hold ~4 lines, so the blow-up is bounded ~16x per "
        "order regardless of table size — same per-group-bounded "
        "pattern as the LSH band join); one orderkey co-located "
        "self-join + one pair shuffle + TakeOrdered",
)
def basket_part_pairs_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("p_a") < F.col("p_b"))
        .select("l_orderkey", "p_a", "p_b")
        .distinct()
    )
    return (
        pairs.groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "p_a", "p_b")
        .limit(50)
    )


@register(
    "activity_heatmap_dow_hour",
    """
    SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow_sun1,
           CAST(hour(ts) AS INTEGER) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="Day-of-week x hour activity heatmap — the ops-dashboard grid: "
        "one (dow, hour) shuffle over 168 cells with map-side partials "
        "plus an exact per-cell distinct. The dow convention is the "
        "datetime pack's pinned shift (Spark Sunday=1 vs DuckDB "
        "Sunday=0); hour() is UTC-pinned by the session timezone, so "
        "both engines bucket identically",
)
def activity_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.dayofweek(F.col("ts").cast("date")).alias("dow_sun1"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )


@register(
    "pareto_revenue_concentration",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS spend
      FROM orders GROUP BY o_custkey
    ), tot AS (
      SELECT CAST(SUM(spend) AS DECIMAL(18,2)) AS total,
             COUNT(*) AS n_cust
      FROM cust
    )
    SELECT o_custkey,
           CAST(spend AS DECIMAL(18,2)) AS spend,
           rk,
           CAST(rk AS DOUBLE) / n_cust AS cust_share,
           CAST(cum_spend AS DOUBLE) / CAST(total AS DOUBLE) AS rev_share,
           CAST(cum_spend AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8
             AS in_top80
    FROM (
      SELECT o_custkey, spend,
             row_number() OVER w AS rk,
             CAST(SUM(spend) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS DECIMAL(18,2))
               AS cum_spend
      FROM cust
      WINDOW w AS (ORDER BY spend DESC, o_custkey)
    ) ranked CROSS JOIN tot
    """,
    doc="Pareto / Lorenz revenue concentration — 'which customers "
        "drive 80% of revenue': rank customers by spend (deterministic "
        "custkey tie-break), decimal-exact running revenue vs the "
        "1-row broadcast total, shares via IEEE division. The global "
        "window runs over the CUSTOMER aggregate (one row each), and "
        "at 10^9 customers becomes the two-phase chunked rewrite "
        "skewed_window_two_phase already proves",
)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("spend")
    )
    tot = cust.agg(
        F.sum("spend").cast(AMOUNT).alias("total"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    w = Window.orderBy(F.col("spend").desc(), "o_custkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = cust.select(
        "o_custkey",
        F.col("spend").cast(AMOUNT).alias("spend"),
        F.row_number().over(w).alias("rk"),
        F.sum("spend").over(w_run).cast(AMOUNT).alias("cum_spend"),
    )
    rev_share = F.col("cum_spend").cast("double") / F.col("total").cast(
        "double"
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "spend",
        "rk",
        (F.col("rk").cast("double") / F.col("n_cust")).alias("cust_share"),
        rev_share.alias("rev_share"),
        (rev_share <= 0.8).alias("in_top80"),
    )


@register(
    "rolling_zscore_anomaly",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    ), framed AS (
      SELECT day, n,
             COUNT(*) OVER w AS w_n,
             CAST(SUM(CAST(n AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(n AS DECIMAL(38,6))
                      * CAST(n AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s2
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, CAST(n AS BIGINT) AS n,
           CAST(w_n AS BIGINT) AS w_n,
           round(CASE WHEN w_n >= 3 AND s2 / w_n - (s1 / w_n) * (s1 / w_n) > 0
                THEN (n - s1 / w_n)
                     / sqrt(s2 / w_n - (s1 / w_n) * (s1 / w_n)) END, 9)
             AS zscore,
           coalesce(abs(CASE WHEN w_n >= 3
                          AND s2 / w_n - (s1 / w_n) * (s1 / w_n) > 0
                THEN (n - s1 / w_n)
                     / sqrt(s2 / w_n - (s1 / w_n) * (s1 / w_n)) END) > 2,
             FALSE) AS is_anomaly
    FROM framed
    """,
    doc="Rolling z-score anomaly detection over the daily event series: "
        "trailing-7-day mean/std from DECIMAL-EXACT power sums in a "
        "bounded window frame (the moment_stats_manual trick composed "
        "with moving_agg_rows_frame's frame discipline — FP sums in a "
        "sliding frame are engine-order-dependent, exact sums are not), "
        "z in double via IEEE division and correctly-rounded sqrt. The "
        "frame EXCLUDES the current row (1 PRECEDING) so a spike can't "
        "mask itself by inflating its own baseline. Window runs over "
        "the day-grain aggregate, never the event stream",
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    nd = F.col("n").cast(DecimalType(38, 6))
    w = Window.orderBy("day").rowsBetween(-7, -1)
    framed = daily.select(
        "day",
        "n",
        F.count(F.lit(1)).over(w).alias("w_n"),
        F.sum(nd).over(w).cast("double").alias("s1"),
        F.sum(nd * nd).over(w).cast("double").alias("s2"),
    )
    m = F.col("s1") / F.col("w_n")
    var = F.col("s2") / F.col("w_n") - m * m
    z = F.when(
        (F.col("w_n") >= 3) & (var > 0), (F.col("n") - m) / F.sqrt(var)
    )
    return framed.select(
        "day",
        F.col("n").cast("long").alias("n"),
        F.col("w_n").cast("long").alias("w_n"),
        F.round(z, 9).alias("zscore"),
        F.coalesce(F.abs(z) > 2, F.lit(False)).alias("is_anomaly"),
    )


@register(
    "gaps_and_islands_daily",
    """
    WITH active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), grouped AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS island_key
      FROM active
    )
    SELECT user_id,
           MIN(day) AS streak_start,
           MAX(day) AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM grouped
    GROUP BY user_id, island_key
    """,
    doc="Gaps-and-islands: consecutive-active-day streaks per user via "
        "the date-minus-row_number trick (consecutive days share a "
        "constant island key; any gap shifts it) — the streak/retention "
        "shape every engagement system computes, and the set-based "
        "rewrite of what procedural code does with cursors. One "
        "user-keyed window over the (user, day) DISTINCT grain + one "
        "island aggregate; never touches the raw event stream twice",
)
def gaps_and_islands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = active.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("island_key"),
    )
    return grouped.groupBy("user_id", "island_key").agg(
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
        F.count(F.lit(1)).cast("long").alias("streak_days"),
    ).drop("island_key")


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY event_type)
             AS p_transition
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="First-order event-transition matrix (the Markov view of user "
        "behavior: P(next event | current event)): lead within user "
        "ordered by (ts, event_id), pair counts, row-normalized via a "
        "window over the transition AGGREGATE (|types|^2 rows, never "
        "the event stream). One user-keyed window shuffle + one pair "
        "aggregate; probabilities are BIGINT-count IEEE divisions",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_from)).alias(
            "p_transition"
        ),
    )


@register(
    "relational_division",
    """
    WITH probe AS (SELECT DISTINCT o_orderstatus FROM orders),
    hits AS (
      SELECT DISTINCT o_custkey, o_orderstatus FROM orders
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_statuses
    FROM hits
    GROUP BY o_custkey
    HAVING COUNT(*) = (SELECT COUNT(*) FROM probe)
    """,
    doc="Relational DIVISION — 'customers with orders in EVERY status', "
        "the classic for-all quantifier SQL has no operator for: "
        "distinct (customer, status) pairs, keep customers whose "
        "distinct-hit count equals the probe cardinality broadcast as "
        "one row (count-match beats nested NOT EXISTS NOT EXISTS — one "
        "aggregate vs two correlated rescans). The probe derives from "
        "the data itself, so the entry is non-vacuous at every SF "
        "(~90% of customers qualify, and not 100% — both directions "
        "proven)",
)
def relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    probe_n = o.select("o_orderstatus").distinct().agg(
        F.count(F.lit(1)).alias("n_probe")
    )
    hits = o.select("o_custkey", "o_orderstatus").distinct()
    return (
        hits.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_statuses"))
        .crossJoin(F.broadcast(probe_n))
        .filter(F.col("n_statuses") == F.col("n_probe"))
        .select("o_custkey", "n_statuses")
    )


@register(
    "mad_robust_dispersion",
    """
    WITH med AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.5) AS med_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(any_value(m.med_qty), 6) AS med_qty,
           round(quantile_cont(abs(l.l_quantity - m.med_qty), 0.5), 6)
             AS mad_qty
    FROM lineitem l JOIN med m ON m.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag
    """,
    doc="Median absolute deviation — the robust dispersion measure "
        "(stddev moves with one outlier; MAD needs ~50% contamination): "
        "per-group median, then the median of absolute deviations via "
        "a broadcast join of the tiny median table back onto the scan. "
        "Two exact-percentile passes by construction — MAD is not "
        "one-pass computable; the approx_percentile twin is the "
        "100 TB single-extra-pass path",
)
def mad_robust_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("med_qty")
    )
    joined = li.join(F.broadcast(med), "l_returnflag")
    return joined.groupBy("l_returnflag").agg(
        F.round(F.any_value("med_qty"), 6).alias("med_qty"),
        F.round(
            F.percentile(
                F.abs(F.col("l_quantity") - F.col("med_qty")), F.lit(0.5)
            ),
            6,
        ).alias("mad_qty"),
    )


@register(
    "interval_merge_overlaps",
    """
    WITH iv AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS DATE) AS e
      FROM orders
    ), flagged AS (
      SELECT o_custkey, s, e,
             CASE WHEN s > coalesce(MAX(e) OVER (
               PARTITION BY o_custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), DATE '0001-01-01') THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), grouped AS (
      SELECT o_custkey, s, e,
             SUM(new_island) OVER (
               PARTITION BY o_custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    )
    SELECT o_custkey, island,
           MIN(s) AS window_start,
           MAX(e) AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM grouped GROUP BY o_custkey, island
    """,
    doc="Merge overlapping intervals (7-day activity windows per "
        "customer): an interval starts a new merged window iff its "
        "start exceeds the running MAX(end) of everything before it — "
        "the running-max formulation handles CONTAINED intervals that "
        "the naive 'compare to previous row' lag approach merges "
        "wrongly. Running sum of new-window flags numbers the islands; "
        "one customer-keyed window shuffle + one island aggregate. The "
        "temporal complement of gaps_and_islands (ranges, not points)",
)
def interval_merge_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 7).alias("e"),
    )
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = iv.select(
        "o_custkey",
        "s",
        "e",
        F.when(
            F.col("s")
            > F.coalesce(
                F.max("e").over(w_prev), F.lit("0001-01-01").cast("date")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    grouped = flagged.withColumn("island", F.sum("new_island").over(w_run))
    return grouped.groupBy("o_custkey", "island").agg(
        F.min("s").alias("window_start"),
        F.max("e").alias("window_end"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
    )


@register(
    "dense_grid_zero_fill",
    """
    WITH grid AS (
      SELECT d.dow_sun1, h.hr
      FROM (SELECT unnest(range(1, 8)) AS dow_sun1) d
      CROSS JOIN (SELECT unnest(range(0, 24)) AS hr) h
    ), obs AS (
      SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow_sun1,
             CAST(hour(ts) AS INTEGER) AS hr,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(g.dow_sun1 AS INTEGER) AS dow_sun1,
           CAST(g.hr AS INTEGER) AS hr,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN obs o
      ON o.dow_sun1 = g.dow_sun1 AND o.hr = g.hr
    """,
    doc="Dense dimension-grid completion: the 7x24 heatmap INCLUDING "
        "zero cells — a grid built from sequence() cross-joined "
        "dimensions, left-joined to the observed aggregate (the "
        "date_spine_gap_fill pattern in two dimensions). Downstream "
        "charts/models need the dense grid; the sparse aggregate "
        "silently drops quiet cells. The grid is 168 literal rows — "
        "broadcast — and the fact is touched once",
)
def dense_grid_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    dows = spark.range(1, 8).select(F.col("id").cast("int").alias("dow_sun1"))
    hrs = spark.range(0, 24).select(F.col("id").cast("int").alias("hr"))
    grid = dows.crossJoin(hrs)
    obs = e.groupBy(
        F.dayofweek(F.col("ts").cast("date")).alias("dow_sun1"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        F.broadcast(grid)
        .join(obs, ["dow_sun1", "hr"], "left")
        .select(
            "dow_sun1",
            "hr",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )


@register(
    "topk_with_ties",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC)
               AS rk
      FROM orders
    ) t WHERE rk <= 3
    """,
    doc="Top-k WITH TIES (rank() <= k) vs w1's row_number top-k: rank "
        "admits every row tied at the boundary, so the result size is "
        "data-dependent — the SQL:2008 FETCH ... WITH TIES semantic. "
        "Ranking on the DECIMAL value (not double) so ties are exact "
        "value equality in both engines. No extra tie-break column "
        "needed for determinism: ties are INCLUDED, which is exactly "
        "what makes the output well-defined without one",
)
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").cast(AMOUNT).desc()
    )
    return (
        o.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "iso_week_rollup",
    """
    SELECT CAST(isoyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS iso_year,
           CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS iso_week,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS revenue
    FROM orders GROUP BY 1, 2
    """,
    doc="ISO-week revenue rollup keyed by (ISO YEAR, week) — the "
        "year-boundary trap pinned: Jan 1 can belong to week 52/53 of "
        "the PREVIOUS iso year (2021-01-01 is 2020-W53 in both "
        "engines), so grouping by calendar year + week double-counts "
        "boundary weeks; YEAROFWEEK/isoyear is the correct pairing "
        "and both engines agree on it. Decimal-exact revenue, one "
        "~52-cells-per-year shuffle",
)
def iso_week_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.groupBy(
        F.expr("extract(YEAROFWEEK FROM CAST(o_orderdate AS DATE))")
        .cast("int")
        .alias("iso_year"),
        F.weekofyear(d).cast("int").alias("iso_week"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("revenue"),
    )


@register(
    "union_by_name_schema_evolution",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority, src FROM (
      SELECT o_orderkey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
             o_orderpriority,
             'current' AS src
      FROM orders WHERE o_orderstatus = 'O'
      UNION ALL BY NAME
      SELECT o_orderkey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
             'legacy' AS src
      FROM orders WHERE o_orderstatus = 'F'
    ) t
    """,
    doc="Schema-evolution UNION: a legacy extract lacking a column "
        "unions with the current shape, absent fields NULL-filled — "
        "Spark unionByName(allowMissingColumns=True) == DuckDB UNION "
        "ALL BY NAME. Positional UNION would silently misalign the "
        "columns instead (the migration bug this pins against); "
        "name-based resolution is the only union that survives schema "
        "evolution in long-lived pipelines",
)
def union_by_name_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    current = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey",
        F.col("o_totalprice").cast(AMOUNT).alias("o_totalprice"),
        "o_orderpriority",
        F.lit("current").alias("src"),
    )
    legacy = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        F.col("o_totalprice").cast(AMOUNT).alias("o_totalprice"),
        F.lit("legacy").alias("src"),
    )
    return current.unionByName(legacy, allowMissingColumns=True).select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "src"
    )


@register(
    "timezone_dst_pack",
    """
    WITH m AS (
      SELECT event_id, ts + INTERVAL 66 DAY AS mts
      FROM events WHERE event_id < 2000
    ),
    conv AS (
      SELECT event_id, mts,
             timezone('America/New_York', CAST(mts AS TIMESTAMPTZ))
               AS ny_local,
             timezone('Asia/Kolkata', CAST(mts AS TIMESTAMPTZ))
               AS kolkata_local
      FROM m
    )
    SELECT event_id, mts, ny_local,
           CAST(date_diff('minute', mts, ny_local) AS BIGINT)
             AS ny_offset_min,
           kolkata_local,
           CAST(date_diff('minute', mts, kolkata_local) AS BIGINT)
             AS kolkata_offset_min,
           (timezone('America/New_York', ny_local) = CAST(mts AS TIMESTAMPTZ))
             AS ny_roundtrip_ok
    FROM conv
    """,
    doc="Timezone conversion across a DST transition — the warehouse "
        "hazard every daily-local-report query hits twice a year: "
        "event timestamps shifted +66 days straddle the 2024-03-10 US "
        "spring-forward, converted UTC->America/New_York (offset "
        "flips -300 -> -240 minutes mid-dataset) and UTC->Asia/Kolkata "
        "(the +330 FRACTIONAL-hour offset that breaks hour-granular "
        "assumptions). Offsets are exact integer minutes; the "
        "local->UTC round-trip flag must be TRUE everywhere here "
        "(UTC->local is total; only fall-back-ambiguous local times "
        "can break the round-trip, pinned out of range). Cross-engine "
        "value: Spark's JSR-310 tz rules vs DuckDB's ICU must agree "
        "on every row or the hash fails — the entry is the canary for "
        "tz-database skew between engines. Pure row-local expressions; "
        "event_id < 2000 bounds gate output, not semantics",
)
def timezone_dst_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    mts = F.col("ts") + F.expr("INTERVAL 66 DAYS")
    m = ev.select("event_id", mts.alias("mts"))
    conv = m.select(
        "event_id",
        "mts",
        F.from_utc_timestamp("mts", "America/New_York").alias("ny_local"),
        F.from_utc_timestamp("mts", "Asia/Kolkata").alias("kolkata_local"),
    )
    def mins(a, b):
        return (
            (F.unix_timestamp(a) - F.unix_timestamp(b)) / 60
        ).cast("long")
    return conv.select(
        "event_id",
        "mts",
        "ny_local",
        mins("ny_local", "mts").alias("ny_offset_min"),
        "kolkata_local",
        mins("kolkata_local", "mts").alias("kolkata_offset_min"),
        (
            F.to_utc_timestamp("ny_local", "America/New_York")
            == F.col("mts")
        ).alias("ny_roundtrip_ok"),
    )


# =========================================================================
# Cross-engine hazard pins: window NULL ordering, regex replacement
# dialects, outer explode
# =========================================================================


@register(
    "window_null_ordering_pack",
    """
    WITH t AS (
      SELECT event_id, user_id, ts,
             NULLIF(event_type, 'view') AS nk
      FROM events
    )
    SELECT event_id, user_id,
           CAST(row_number() OVER (PARTITION BY user_id
                 ORDER BY nk ASC NULLS FIRST, ts, event_id) AS BIGINT)
             AS rn_nulls_first,
           CAST(row_number() OVER (PARTITION BY user_id
                 ORDER BY nk DESC NULLS LAST, ts, event_id) AS BIGINT)
             AS rn_nulls_last
    FROM t
    """,
    doc="NULL placement in window ordering pinned EXPLICITLY on both "
        "sides: Spark's ASC default is NULLS FIRST while DuckDB/"
        "Postgres default to NULLS LAST (and the reverse for DESC), so "
        "any rank over a nullable key silently renumbers every "
        "NULL-containing partition when a query moves engines unless "
        "asc_nulls_first/desc_nulls_last is stated. NULLIF manufactures "
        "the NULLs deterministically so the pin is non-vacuous in every "
        "partition",
)
def window_null_ordering_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.nullif(F.col("event_type"), F.lit("view")).alias("nk"),
    )
    w_first = Window.partitionBy("user_id").orderBy(
        F.col("nk").asc_nulls_first(), "ts", "event_id"
    )
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("nk").desc_nulls_last(), "ts", "event_id"
    )
    return t.select(
        "event_id",
        "user_id",
        F.row_number().over(w_first).cast("long").alias("rn_nulls_first"),
        F.row_number().over(w_last).cast("long").alias("rn_nulls_last"),
    )


@register(
    "regex_backreference_pack",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '([a-z]+) ([a-z]+)', '\2 \1', 'g'))
             AS swapped_fp,
           substr(regexp_replace(lower(text), '([a-z]+) ([a-z]+)', '\2 \1',
                  'g'), 1, 40) AS swapped_head
    FROM documents
    """,
    doc="Regex replacement dialect pin (word-pair swap over every doc): "
        "Spark/Java spells group references $1 and replaces ALL "
        "matches; DuckDB/RE2 spells them \\1 and replaces only the "
        "FIRST without the 'g' flag — the md5 fingerprint hash-checks "
        "that both spellings + the explicit global flag produce "
        "byte-identical rewrites. Pattern-side backreferences are "
        "avoided entirely: RE2 rejects them, so the portable subset "
        "keeps groups in the replacement only",
)
def regex_backreference_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    swapped = F.regexp_replace(
        F.lower(F.col("text")), r"([a-z]+) ([a-z]+)", r"$2 $1"
    )
    return d.select(
        "doc_id",
        F.md5(swapped).alias("swapped_fp"),
        F.substring(swapped, 1, 40).alias("swapped_head"),
    )


@register(
    "explode_outer_empty_preserved",
    """
    WITH arrs AS (
      SELECT doc_id,
             list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                         t -> len(t) >= 8) AS long_toks
      FROM documents
    )
    SELECT doc_id,
           unnest(CASE WHEN len(long_toks) = 0
                       THEN [CAST(NULL AS VARCHAR)]
                       ELSE long_toks END) AS long_token
    FROM arrs
    """,
    doc="explode_outer row preservation: an inner explode silently "
        "DROPS every document whose array is empty (~20% of docs have "
        "no >=8-letter token — a LEFT-JOIN-shaped data loss bug when "
        "the exploded table is later re-joined to the corpus); the "
        "outer form keeps them as NULL rows. The oracle states the "
        "engine-portable rewrite: unnest over CASE WHEN empty THEN "
        "[NULL] ELSE arr END",
)
def explode_outer_empty_preserved(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    long_toks = F.filter(
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"),
        lambda t: F.length(t) >= 8,
    )
    return d.select(
        "doc_id", F.explode_outer(long_toks).alias("long_token")
    )


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
# LOCF/NOCB gap fill, business-day arithmetic, log2-bucket histogram
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
# Spark 4 SQL pipe syntax + collation semantics
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
# Source-format surface: XML roundtrip (Spark 4 built-in XML source),
# parquet mergeSchema physical evolution
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
