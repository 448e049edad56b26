"""Relational registry entries: classic warehouse shapes (TPC-H style),
the relational operators the reference's SQL dialect implies but never
exercises (semi/anti joins, CUBE, PIVOT, percentiles, SQL-view surface,
upsert-as-a-query, correlated EXISTS, count distributions, scalar
subqueries, disjunctive predicates), and incremental-aggregation shapes
(partial-aggregate merge, range-frame windows).

The reference is "SQL strings over Postgres" (SURVEY §0), so its
implied surface is ANSI SQL; this module demonstrates that surface
Spark-side with DuckDB-oracle twins. Queries needing columns the
driver's reduced TPC-H schema lacks (no partsupp, no l_shipmode /
l_commitdate / l_receiptdate, no c_phone) are adapted to preserve the
OPERATOR SHAPE.

Exactness conventions (same as harness.py): money math is decimal end-
to-end — DOUBLE inputs are cast to bounded decimals *before* arithmetic
so sums are exact and order-insensitive; averages divide an exact
decimal sum by a bigint count in double (deterministic); percentiles use
linear interpolation on both engines and round to 6 places.

The reaggregation pattern is the backbone of every 100 TB warehouse: the
daily job computes per-(key, day) partials once; weekly/monthly/yearly
rollups then MERGE PARTIALS instead of rescanning the fact table. The
merge algebra is pinned here: COUNT merges by SUM, SUM by SUM, MIN/MAX by
MIN/MAX, and AVG is NOT mergeable — it must be carried as (sum, count)
and divided at the end (merging averages of unequal groups is the classic
silent-corruption bug). The window / merge layer runs over the reduced
partial table, never the raw facts (SCALE.md §2).

Scale notes per query are in each doc string; the shared rules:
* dim joins (nation/region/supplier/customer at dim scale) broadcast;
* facts shuffle on their join key exactly once;
* top-k goes through TakeOrderedAndProject, never a global sort;
* semi/anti joins stay hash joins on the key, no fan-out;
* correlated subqueries are written as aggregate-then-join (the
  decorrelation Catalyst would do), so nothing re-executes per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from etl_tj_project_spark.functions import zorder as _z
from etl_tj_project_spark.harness import register
from etl_tj_project_spark.schemas import AMOUNT
from etl_tj_project_spark.sources.testdata import load_table


# =========================================================================
# Analytical pack: TPC-H shapes, semi/anti joins, CUBE/PIVOT,
# percentiles, SQL-view surface, upsert-as-a-query
# =========================================================================


# Bounded decimals sized so products stay inside Spark's 38-digit cap with
# zero precision loss: (12,2) * (4,2)-derived factors → scale 4/6 exact.
PRICE = DecimalType(12, 2)
RATE = DecimalType(4, 2)
# Post-multiplication money keeps its full scale (4 or 6) so the final
# cast is exact — a cast down to scale 2 would hit .xx5 ties where Spark
# (HALF_UP) and DuckDB (half-to-even) disagree by one cent.
AMOUNT4 = DecimalType(18, 4)
AMOUNT6 = DecimalType(18, 6)

def _one() -> "F.Column":
    # Built lazily: Column construction needs an active SparkContext, and
    # this module imports before any session exists.
    return F.lit(1).cast(RATE)


def _li_money(li: DataFrame) -> DataFrame:
    """lineitem with exact-decimal money columns (shared projection)."""
    return li.withColumns(
        {
            "qty": F.col("l_quantity").cast(AMOUNT),
            "price": F.col("l_extendedprice").cast(PRICE),
            "disc": F.col("l_discount").cast(RATE),
            "tax": F.col("l_tax").cast(RATE),
        }
    )


# SQL fragment twins of the above (DuckDB dialect = shared ANSI).
_SQL_QTY = "CAST(l_quantity AS DECIMAL(18,2))"
_SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"
_SQL_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_SQL_TAX = "CAST(l_tax AS DECIMAL(4,2))"
_SQL_ONE = "CAST(1 AS DECIMAL(4,2))"


# =========================================================================
# TPC-H-style headline queries
# =========================================================================

@register(
    "tpch_q1_pricing_summary",
    f"""
    WITH t AS (
      SELECT l_returnflag, l_linestatus,
             {_SQL_QTY} AS qty, {_SQL_PRICE} AS price,
             {_SQL_DISC} AS disc, {_SQL_TAX} AS tax
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty) AS DECIMAL(18,2))   AS sum_qty,
           CAST(SUM(price) AS DECIMAL(18,2)) AS sum_base_price,
           CAST(SUM(price * ({_SQL_ONE} - disc)) AS DECIMAL(18,4))
             AS sum_disc_price,
           CAST(SUM(price * ({_SQL_ONE} - disc) * ({_SQL_ONE} + tax))
                AS DECIMAL(18,6)) AS sum_charge,
           round(CAST(SUM(qty) AS DOUBLE) / COUNT(*), 6)   AS avg_qty,
           round(CAST(SUM(price) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           round(CAST(SUM(disc) AS DOUBLE) / COUNT(*), 6)  AS avg_disc,
           COUNT(*) AS count_order
    FROM t GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: wide multi-aggregate scan with exact "
        "decimal money math; single shuffle on a 6-value group key, "
        "map-side partial agg does nearly all the work at 100 TB",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("price") * (_one() - F.col("disc"))
    charge = disc_price * (_one() + F.col("tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty").cast(AMOUNT).alias("sum_qty"),
            F.sum("price").cast(AMOUNT).alias("sum_base_price"),
            F.sum(disc_price).cast(AMOUNT4).alias("sum_disc_price"),
            F.sum(charge).cast(AMOUNT6).alias("sum_charge"),
            F.round(F.sum("qty").cast("double") / n, 6).alias("avg_qty"),
            F.round(F.sum("price").cast("double") / n, 6).alias("avg_price"),
            F.round(F.sum("disc").cast("double") / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           CAST(SUM({_SQL_PRICE} * ({_SQL_ONE} - {_SQL_DISC}))
                AS DECIMAL(18,4)) AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shipping priority: selective 3-way join + agg + "
        "deterministic top-10 (exact-decimal revenue breaks ties stably); "
        "customer filter broadcast, lineitem⋈orders shuffle on orderkey",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-03-15").cast("date")
    )
    li = _li_money(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-03-15").cast("date")
    )
    revenue = F.col("price") * (_one() - F.col("disc"))
    return (
        li.join(
            o.join(F.broadcast(c), c["c_custkey"] == o["o_custkey"], "inner"),
            li["l_orderkey"] == o["o_orderkey"],
            "inner",
        )
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(revenue).cast(AMOUNT4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q6_forecast_revenue",
    f"""
    SELECT CAST(SUM({_SQL_PRICE} * {_SQL_DISC}) AS DECIMAL(18,4)) AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND {_SQL_DISC} BETWEEN CAST(0.05 AS DECIMAL(4,2))
                          AND CAST(0.07 AS DECIMAL(4,2))
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 forecast revenue: highly selective predicate stack fully "
        "pushed to the parquet scan, then a single global sum — the "
        "pushdown-and-prune stress test",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    d = F.col("l_shipdate").cast("date")
    return (
        li.filter(
            (d >= F.lit("1996-01-01").cast("date"))
            & (d < F.lit("1997-01-01").cast("date"))
            & F.col("disc").between(
                F.lit(0.05).cast(RATE), F.lit(0.07).cast(RATE)
            )
            & (F.col("l_quantity") < 24)
        )
        .agg((F.sum(F.col("price") * F.col("disc"))).cast(AMOUNT4).alias("revenue"))
    )


@register(
    "tpch_q5ish_regional_revenue",
    f"""
    SELECT n.n_name,
           CAST(SUM({_SQL_PRICE} * ({_SQL_ONE} - {_SQL_DISC}))
                AS DECIMAL(18,4)) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-style star join: fact ⋈ filtered date dim ⋈ three "
        "broadcast dims (supplier→nation→region chain collapses to one "
        "broadcast stage); one shuffle for lineitem⋈orders, one for the agg",
)
def tpch_q5ish_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Collapse the dim chain driver-side of the fact join: supplier⋈nation⋈
    # region is dim-sized, broadcast the result once.
    s_dim = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "n_name")
    )
    revenue = F.col("price") * (_one() - F.col("disc"))
    return (
        li.join(o, o["o_orderkey"] == li["l_orderkey"], "inner")
        .join(F.broadcast(s_dim), F.col("s_suppkey") == li["l_suppkey"], "inner")
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast(AMOUNT4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# =========================================================================
# Join variants beyond the reference's inner/left: semi / anti
# =========================================================================

@register(
    "semi_join_exists",
    """
    SELECT o_orderkey, o_orderpriority FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
    doc="Left-semi join (EXISTS): emits each qualifying order once "
        "regardless of match multiplicity — no fan-out, build side is the "
        "filtered probe keys only",
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return o.join(
        li, li["l_orderkey"] == o["o_orderkey"], "left_semi"
    ).select("o_orderkey", "o_orderpriority")


@register(
    "anti_join_not_exists",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    doc="Left-anti join (NOT EXISTS): customers with no URGENT orders; "
        "hash-anti on the key, NULL-safe by construction. The predicate "
        "is on the build side, not plain key-absence: in this testdata "
        "every customer has orders, so the unfiltered NOT EXISTS returns "
        "0 rows at every SF — a vacuous check (the tpch_q22ish lesson; "
        "18 rows at sf0.001, 203 at sf0.01 with the filter)",
)
def anti_join_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, o["o_custkey"] == c["c_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


# =========================================================================
# Grouping-set family (rollup already registered in harness.py)
# =========================================================================

@register(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
             AS qty_sum
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="CUBE: all 2^k grouping sets in one pass (Expand + single "
        "shuffle, not k separate jobs)",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast(AMOUNT)).cast(AMOUNT).alias("qty_sum"),
    )


@register(
    "pivot_status_counts",
    """
    SELECT o_orderpriority,
           SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS cnt_f,
           SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS cnt_o,
           SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS cnt_p
    FROM orders GROUP BY o_orderpriority
    """,
    doc="PIVOT with a pinned value list: one-pass conditional aggregation, "
        "no per-value jobs; empty cells are 0 not NULL",
)
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(v), F.lit(0)).cast("long").alias(f"cnt_{v.lower()}")
            for v in ("F", "O", "P")
        ],
    )


# =========================================================================
# Statistical aggregates
# =========================================================================

@register(
    "percentile_by_group",
    """
    SELECT l_linestatus,
           round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
           round(quantile_cont(l_quantity, 0.9), 6) AS qty_p90,
           round(min(l_quantity), 6) AS qty_min,
           round(max(l_quantity), 6) AS qty_max
    FROM lineitem GROUP BY l_linestatus
    """,
    doc="Exact percentiles (linear interpolation) per group — Spark "
        "`percentile` == DuckDB `quantile_cont`; min/max ride along",
)
def percentile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("qty_p50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("qty_p90"),
        F.round(F.min("l_quantity"), 6).alias("qty_min"),
        F.round(F.max("l_quantity"), 6).alias("qty_max"),
    )


@register(
    "count_distinct_by_group",
    """
    SELECT l_linestatus,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_linestatus
    """,
    doc="Multi-column exact COUNT(DISTINCT): Catalyst expands to "
        "partial-distinct aggregates (Expand) in a single job; the "
        "approx_count_distinct variant is the scale path (rows-only twin)",
)
def count_distinct_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "approx_count_distinct",
    None,  # estimator internals differ across engines — rows-only check
    doc="HyperLogLog++ approx distinct at 2% rsd: the 100 TB-scale "
        "replacement for exact COUNT(DISTINCT) (no Expand blow-up, "
        "mergeable sketches); rows-only because HLL estimates are "
        "engine-specific",
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# =========================================================================
# Window extensions: lag-delta, ntile
# =========================================================================

@register(
    "window_lag_delta",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS day_total
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT d, day_total,
           CAST(day_total - lag(day_total) OVER (ORDER BY d)
                AS DECIMAL(18,2)) AS delta_vs_prev
    FROM daily
    """,
    doc="Day-over-day delta: agg then lag over the date axis; the "
        "unpartitioned window runs over the already-reduced daily series "
        "(tiny), never over raw facts",
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("day_total"))
    )
    w = Window.orderBy("d")
    return daily.select(
        "d",
        "day_total",
        (F.col("day_total") - F.lag("day_total").over(w))
        .cast(AMOUNT)
        .alias("delta_vs_prev"),
    )


@register(
    "window_ntile_quartiles",
    """
    SELECT o_orderpriority, o_orderkey,
           ntile(4) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    """,
    doc="NTILE(4) bucketing per group with a unique tie-break key "
        "(deterministic bucket assignment)",
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority", "o_orderkey", F.ntile(4).over(w).alias("quartile")
    )


# =========================================================================
# S3 (SQL/view surface) and S5 (upsert) as pure queries
# =========================================================================

_VIEW_LAYER_SQL = """
    SELECT rflag, ship_date, COUNT(*) AS n,
           CAST(SUM(qty) AS DECIMAL(18,2)) AS qty_sum
    FROM vw_lineitem_typed
    WHERE ship_date >= DATE '1999-01-01'
    GROUP BY rflag, ship_date
"""


@register(
    "sql_view_layer",
    f"""
    WITH vw_lineitem_typed AS (
      SELECT upper(l_returnflag) AS rflag,
             CAST(l_shipdate AS DATE) AS ship_date,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty
      FROM lineitem
    )
    {_VIEW_LAYER_SQL}
    """,
    doc="S3: typed-view layer + downstream SQL — the reference's "
        "CREATE VIEW src.vw_trx_* surface (dag_datapelangan.py:68-86) as "
        "session-catalog temp views consumed by spark.sql; Catalyst "
        "inlines the view so pushdown crosses the view boundary",
)
def sql_view_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.select(
        F.upper("l_returnflag").alias("rflag"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_quantity").cast(AMOUNT).alias("qty"),
    ).createOrReplaceTempView("vw_lineitem_typed")
    return spark.sql(_VIEW_LAYER_SQL)


@register(
    "skew_salted_join",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id % 100
    """,
    doc="Skew-resistant salted equi-join (operators/joins.salted_join): "
        "hot keys of the big side spread across 8 salt buckets, small "
        "side replicated per salt — result identical to the plain join "
        "(this oracle proves it); covers the case AQE skew-split can't: "
        "a single key larger than one executor",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.joins import salted_join

    # user_id % 100 manufactures heavy key collisions (every user maps
    # into 100 buckets) — the skew shape the salt is for.
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", (F.col("user_id") % 100).alias("join_key")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("join_key"), "c_mktsegment"
    )
    return salted_join(e, c, "join_key", num_salts=8, how="inner").select(
        "event_id", "user_id", "c_mktsegment"
    )


@register(
    "upsert_dim_delta",
    """
    WITH delta AS (
      SELECT n_nationkey, n_name || '_v2' AS n_name, n_regionkey
      FROM nation WHERE n_nationkey % 5 = 0
    )
    SELECT n_nationkey, n_name, n_regionkey FROM delta
    UNION ALL
    SELECT n.n_nationkey, n.n_name, n.n_regionkey FROM nation n
    WHERE NOT EXISTS (SELECT 1 FROM delta d
                      WHERE d.n_nationkey = n.n_nationkey)
    """,
    doc="S5 upsert on a MERGE-less lake: delta ∪ (base left-anti delta) — "
        "the incremental path of operators/dims.upsert_dim "
        "(ref ON CONFLICT DO UPDATE, stage_csv_dims_to_pg.py:125-140)",
)
def upsert_dim_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "nation")
    delta = base.filter(F.col("n_nationkey") % 5 == 0).select(
        "n_nationkey",
        F.concat(F.col("n_name"), F.lit("_v2")).alias("n_name"),
        "n_regionkey",
    )
    kept = base.join(delta, "n_nationkey", "left_anti").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    return delta.unionByName(kept)


# =========================================================================
# Reshaping / temporal patterns: unpivot, SCD2, range join, session window
# =========================================================================

@register(
    "unpivot_melt",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric,
           CAST(p_retailprice AS DOUBLE) AS val
    FROM part
    """,
    doc="UNPIVOT/melt: wide metrics → long (metric, value) rows; Spark "
        "plans it as Expand (one pass, no join), not k self-unions",
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "scd2_validity_ranges",
    """
    SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
             AS valid_to_us
    FROM events WHERE event_type = 'signup'
    """,
    doc="SCD2 emulation on a MERGE-less lake: each change event gets a "
        "[valid_from, valid_to) range via lead() — the guide's "
        "anti-join+window CDC pattern, expressed as one window pass",
)
def scd2_validity_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return (
        ev.select("user_id", "event_id", F.unix_micros("ts").alias("us"))
        .select(
            "user_id",
            "event_id",
            F.col("us").alias("valid_from_us"),
            F.lead("us").over(w).alias("valid_to_us"),
        )
    )


@register(
    "range_band_join",
    """
    SELECT o.o_orderkey, b.band
    FROM orders o
    JOIN (VALUES ('b0', 0, 100000), ('b1', 100000, 200000),
                 ('b2', 200000, 300000), ('b3', 300000, 1000000))
         AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    """,
    doc="Range (theta) join against a band table: broadcast-nested-loop "
        "on a 4-row build side — the right plan when the non-equi side is "
        "tiny; for big-big range joins, bucketize the range key to an "
        "equi-join first (guide §OLAP patterns)",
)
def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("b0", 0, 100000), ("b1", 100000, 200000),
         ("b2", 200000, 300000), ("b3", 300000, 1000000)],
        "band string, lo long, hi long",
    )
    return o.join(
        F.broadcast(bands),
        (o["o_totalprice"] >= bands["lo"]) & (o["o_totalprice"] < bands["hi"]),
        "inner",
    ).select("o_orderkey", "band")


@register(
    "session_window_agg",
    """
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts))
                  >= 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM events
    ), s AS (
      SELECT user_id, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM t
    )
    SELECT user_id, min(us) AS sess_start_us, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="Native session_window (30-min gap) aggregation — Spark's "
        "built-in merging session windows; the oracle twin is the "
        "lag+cumsum formulation, proving both sessionizations agree "
        "(new session iff gap >= 30 min, matching [start, last+gap))",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("sess_start_us"),
            "n_events",
        )
    )


# =========================================================================
# Similarity search: IVF variant (completes brute-force / LSH / IVF trio)
# =========================================================================

_IVF_COS = (
    "CASE WHEN sqrt({na}) * sqrt({nb}) > 0 "
    "THEN {dot} / (sqrt({na}) * sqrt({nb})) END"
)


def _ivf_cos_sql(a: str, b: str) -> str:
    from etl_tj_project_spark.operators.similarity import _dot_sql

    return _IVF_COS.format(
        na=_dot_sql(a, a), nb=_dot_sql(b, b), dot=_dot_sql(a, b)
    )


@register(
    "ann_ivf_topk",
    f"""
    WITH c AS (SELECT vec_id AS cell, embedding AS cvec
               FROM embeddings WHERE vec_id < 8),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qprobe AS (
      SELECT c.cell FROM c, q
      ORDER BY {_ivf_cos_sql('q.qv', 'c.cvec')} DESC, c.cell DESC
      LIMIT 2
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cell FROM c
              ORDER BY {_ivf_cos_sql('e.embedding', 'c.cvec')} DESC,
                       c.cell DESC
              LIMIT 1) AS cell
      FROM embeddings e
    )
    SELECT vec_id, round(cosine, 9) AS cosine FROM (
      SELECT a.vec_id,
             {_ivf_cos_sql('a.embedding', 'q.qv')} AS cosine
      FROM assigned a, q
      WHERE a.cell IN (SELECT cell FROM qprobe)
      ORDER BY cosine DESC, a.vec_id
      LIMIT 10
    ) t
    """,
    doc="IVF-Flat ANN: vectors assigned to nearest-of-8 centroid cells "
        "(deterministic centroids = first 8 vectors; trained k-means "
        "would swap in without changing the plan), query probes its 2 "
        "nearest cells, exact cosine ranking inside — at scale the cell "
        "is a partition column so a probe reads 2/8 of the data",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    top = sim.ivf_topk(e, q, k=10, n_cells=8, n_probe=2)
    return top.select("vec_id", F.round("cosine", 9).alias("cosine"))


# =========================================================================
# JSON columns, grouping sets, statistical aggregates
# =========================================================================

@register(
    "json_extract_typed",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
    FROM events
    """,
    doc="Typed JSON field extraction: from_json with an explicit schema "
        "(not schema inference) so the parse is a single vectorized "
        "expression and the struct field prunes like a column",
)
def json_extract_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return ev.select("event_id", parsed.getField("k").alias("k_val"))


@register(
    "json_agg_by_field",
    """
    SELECT event_type,
           SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_sum,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="Aggregate over a JSON-extracted field — parse happens map-side "
        "inside codegen, only (event_type, k) reach the shuffle",
)
def json_agg_by_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("k_sum"), F.count(F.lit(1)).alias("n"))
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rflag,
           grouping(l_linestatus) AS g_lstatus,
           COUNT(*) AS n
    FROM {table}
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register(
    "grouping_sets_agg",
    _GROUPING_SETS_SQL.format(table="lineitem"),
    doc="Explicit GROUPING SETS with grouping() markers — same shared SQL "
        "text runs on Spark SQL and DuckDB; planned as one Expand + one "
        "shuffle like rollup/cube",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    df = spark.sql(_GROUPING_SETS_SQL.format(table="li_gs"))
    # Spark's grouping() returns tinyint; align to DuckDB's BIGINT.
    return df.select(
        "l_returnflag",
        "l_linestatus",
        F.col("g_rflag").cast("long").alias("g_rflag"),
        F.col("g_lstatus").cast("long").alias("g_lstatus"),
        "n",
    )


@register(
    "stats_agg_by_group",
    """
    SELECT l_linestatus,
           round(stddev_samp(l_quantity), 4)                   AS qty_sd,
           round(var_samp(l_quantity), 4)                      AS qty_var,
           round(corr(l_quantity, l_extendedprice), 6)         AS qty_price_corr,
           round(regr_slope(l_extendedprice, l_quantity), 4)   AS price_per_qty
    FROM lineitem GROUP BY l_linestatus
    """,
    doc="Statistical aggregates (stddev/variance/corr/regression slope): "
        "single-pass mergeable moment sketches — constant memory per "
        "group at any scale",
)
def stats_agg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_sd"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "price_per_qty"
        ),
    )


# =========================================================================
# Array aggregation and dataset profiling
# =========================================================================

@register(
    "array_agg_sorted",
    """
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
             AS statuses_csv,
           len(list(DISTINCT o_orderstatus)) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
    doc="collect_set/array_agg made deterministic: collection order is "
        "partition-dependent, so any collected array MUST be array_sort'd "
        "before it is comparable or joinable; listagg = sorted concat_ws. "
        "The result surfaces only scalar columns (CSV string + cardinality) "
        "— raw array columns are kept internal because downstream "
        "comparators/hashers generally can't canonicalize ndarray cells",
)
def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    arr = F.array_sort(F.collect_set("o_orderstatus"))
    return o.groupBy("o_orderpriority").agg(
        F.array_join(arr, ",").alias("statuses_csv"),
        F.size(arr).cast("long").alias("n_statuses"),
    )


@register(
    "profile_columns",
    """
    SELECT 'l_quantity' AS col,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(l_quantity) AS n_null,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           round(min(l_quantity), 6) AS min_val,
           round(max(l_quantity), 6) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
           COUNT(DISTINCT l_discount),
           round(min(l_discount), 6), round(max(l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', COUNT(*), COUNT(*) - COUNT(l_tax),
           COUNT(DISTINCT l_tax),
           round(min(l_tax), 6), round(max(l_tax), 6)
    FROM lineitem
    """,
    doc="Column profiler (null count, distinct, min/max per column) — the "
        "dataset-stats pass a training pipeline runs before ingestion; "
        "one scan computes all columns' stats (Spark aggregates them "
        "side by side; the UNION ALL in the oracle is only the output "
        "shape), exact distincts here, HLL at 100 TB",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_tax"]
    # One aggregation computes every column's stats, then unpivot to the
    # (col, stats...) shape — a single scan regardless of column count.
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.count_distinct(c).alias(f"{c}__n_distinct"),
            F.round(F.min(c), 6).alias(f"{c}__min_val"),
            F.round(F.max(c), 6).alias(f"{c}__max_val"),
        ]
    wide = li.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("col"),
            F.col(f"{c}__n_rows").alias("n_rows"),
            F.col(f"{c}__n_null").alias("n_null"),
            F.col(f"{c}__n_distinct").alias("n_distinct"),
            F.col(f"{c}__min_val").alias("min_val"),
            F.col(f"{c}__max_val").alias("max_val"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


@register(
    "argmin_join_back",
    """
    WITH m AS (
      SELECT o_orderpriority, min(o_totalprice) AS min_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, o.o_orderkey, o.o_totalprice
    FROM orders o
    JOIN m ON m.o_orderpriority = o.o_orderpriority
          AND o.o_totalprice = m.min_price
    """,
    doc="Argmin via aggregate + join-back: the cheapest-row-per-group "
        "pattern without a window sort — the agg result is group-count "
        "sized, so the join-back side broadcasts; ties all kept "
        "(deterministic set, unlike row_number which picks one)",
)
def argmin_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # The aggregate derives from the same plan as the probe side — alias
    # its columns so the self-join keys are unambiguous.
    m = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.min("o_totalprice").alias("min_price")
    )
    return o.join(
        F.broadcast(m),
        (o["o_orderpriority"] == m["prio"]) & (o["o_totalprice"] == m["min_price"]),
        "inner",
    ).select("o_orderpriority", "o_orderkey", "o_totalprice")


# =========================================================================
# Set operations beyond the reference's UNION ALL: INTERSECT / EXCEPT
# =========================================================================

@register(
    "intersect_distinct",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT (distinct): customers with both a finished and an open "
        "order — planned as a left-semi join over pre-distinct inputs, "
        "one shuffle per side on the compared columns",
)
def intersect_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@register(
    "except_distinct",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="EXCEPT (distinct): left-anti join over pre-distinct inputs — "
        "same shuffle shape as INTERSECT",
)
def except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(op)


@register(
    "tpch_q14_promo_share",
    f"""
    SELECT round(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                        THEN {_SQL_PRICE} * ({_SQL_ONE} - {_SQL_DISC}) END)
                      AS DOUBLE)
                   / CAST(SUM({_SQL_PRICE} * ({_SQL_ONE} - {_SQL_DISC}))
                      AS DOUBLE), 6) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-09-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1996-10-01'
    """,
    doc="TPC-H Q14 promo share: conditional-aggregate ratio over a "
        "broadcast dim join — both sums come out of one pass; the "
        "division runs on two exact decimal totals (deterministic), "
        "rounded in double",
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    d = F.col("l_shipdate").cast("date")
    revenue = F.col("price") * (_one() - F.col("disc"))
    joined = li.filter(
        (d >= F.lit("1996-09-01").cast("date"))
        & (d < F.lit("1996-10-01").cast("date"))
    ).join(F.broadcast(p), p["p_partkey"] == li["l_partkey"], "inner")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", revenue))
    return joined.agg(
        F.round(
            F.lit(100.0) * promo.cast("double") / F.sum(revenue).cast("double"), 6
        ).alias("promo_revenue_pct")
    )


# =========================================================================
# Embedding-table operators: centroids, scalar quantization
# =========================================================================

@register(
    "embedding_centroids_long",
    """
    WITH x AS (
      SELECT label, embedding,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    )
    SELECT label, i AS pos,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_val
    FROM x GROUP BY label, i
    """,
    doc="Per-label embedding centroids in long form (label, dim, mean): "
        "posexplode + one partial-aggregated shuffle on (label, dim) — "
        "the centroid-training step an IVF index build runs; long form "
        "avoids both engines' list-reassembly nondeterminism",
)
def embedding_centroids_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"))
    )


@register(
    "embedding_int8_quantize",
    """
    SELECT vec_id,
           array_to_string(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS INTEGER)),
             ',') AS q8_csv,
           CAST(list_sum(list_transform(embedding,
             x -> abs(CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5)
                           AS INTEGER)))) AS BIGINT) AS q8_l1
    FROM embeddings
    """,
    doc="Scalar int8 quantization of unit-range embeddings (floor(x*127 "
        "+ .5) — floor, not round, for identical tie behavior on both "
        "engines): 4x storage/shuffle reduction for the 100 TB embedding "
        "table; dequantize is q/127.0. Surfaced as a CSV string + L1 "
        "checksum — scalar columns only, because raw array cells break "
        "downstream pandas-based canonicalizers (the array_agg_sorted "
        "lesson)",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 127 + 0.5).cast("int"),
    )
    return e.select(
        "vec_id",
        F.array_join(q8, ",").alias("q8_csv"),
        F.aggregate(
            q8, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q8_l1"),
    )


# =========================================================================
# Corpus preparation (stages 1-2 of operators/corpus.prepare_corpus)
# =========================================================================

def _corpus_filter_sql() -> str:
    from etl_tj_project_spark.functions import text as _tx

    m = _tx.quality_metrics_sql("text")
    return (
        f"SELECT doc_id, lang FROM documents "
        f"WHERE {m['n_chars']} >= 20 AND {m['n_tokens']} >= 5 "
        f"AND {m['punct_ratio']} <= 0.2 AND {m['alpha_ratio']} >= 0.6 "
        f"AND {m['stopword_ratio']} <= 0.7 "
        f"AND {_tx.lang_id_sql('text')} = 'en'"
    )


@register(
    "corpus_quality_filter",
    _corpus_filter_sql(),
    doc="Corpus prep stages 1-2 (operators/corpus.py): quality thresholds "
        "+ language allowlist as pure row-local filters — they shrink the "
        "corpus before any shuffle (dedup) sees it; the full pipeline "
        "adds exact+near dedup (tested end-to-end, LSH stage not "
        "SQL-expressible)",
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.corpus import (
        QualityThresholds,
        language_filter,
        quality_filter,
    )

    d = load_table(spark, sf_dir, "documents")
    out = quality_filter(d, "text", QualityThresholds())
    return language_filter(out, "text", ("en",)).select("doc_id", "lang")


@register(
    "tpch_q18_large_orders",
    f"""
    SELECT c.c_name, o.o_orderkey,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS totalprice,
           big.sum_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (
      SELECT l_orderkey, CAST(SUM({_SQL_QTY}) AS DECIMAL(18,2)) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM({_SQL_QTY}) > 150
    ) big ON big.l_orderkey = o.o_orderkey
    """,
    doc="TPC-H Q18 large-volume orders: HAVING-filtered aggregate joined "
        "back to facts — the aggregate runs first and its selective "
        "output drives the join (semi-join pushback), never the reverse",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(AMOUNT)).cast(AMOUNT).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        o.join(big, big["l_orderkey"] == o["o_orderkey"], "inner")
        .join(F.broadcast(c), c["c_custkey"] == o["o_custkey"], "inner")
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").cast(AMOUNT).alias("totalprice"),
            "sum_qty",
        )
    )


# =========================================================================
# Function-family packs: rank windows, datetime, strings
# =========================================================================

@register(
    "window_rank_family",
    """
    SELECT o_orderkey,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           round(percent_rank() OVER w, 9) AS prnk,
           round(cume_dist()    OVER w, 9) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    doc="rank / dense_rank / percent_rank / cume_dist in one window pass "
        "(deterministic: unique tie-break key; ratios are exact rank "
        "fractions, rounded only for safety)",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 9).alias("prnk"),
        F.round(F.cume_dist().over(w), 9).alias("cdist"),
    )


@register(
    "datetime_function_pack",
    """
    SELECT o_orderkey,
           year(o_orderdate)                             AS y,
           quarter(o_orderdate)                          AS q,
           month(o_orderdate)                            AS m,
           day(o_orderdate)                              AS d,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY    AS plus_30,
           datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01')
                                                          AS days_to_y2k,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow_sun1
    FROM orders
    """,
    doc="Datetime family: extract/trunc/add/diff with the cross-engine "
        "conventions pinned (dayofweek: Spark Sunday=1 vs DuckDB Sunday=0, shifted to agree; datediff "
        "argument order differs and is wrapped accordingly)",
)
def datetime_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        # Spark: date + 30 days stays a date; DuckDB DATE + INTERVAL is a
        # timestamp — cast both to timestamp for identical typing.
        F.date_add(d, 30).cast("timestamp").alias("plus_30"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).alias("days_to_y2k"),
        F.dayofweek(d).alias("dow_sun1"),
    )


@register(
    "string_function_pack",
    """
    SELECT p_partkey,
           replace(p_type, ' ', '_')                  AS type_snake,
           split_part(p_name, ' ', 1)                 AS first_word,
           translate(p_brand, '#', '-')               AS brand_dash,
           strpos(p_name, 'a')                        AS first_a,
           levenshtein(p_brand, 'PROMO')              AS lev_to_promo,
           reverse(p_brand)                           AS brand_rev,
           repeat('*', p_size % 4)                    AS stars,
           left(p_name, 5)                            AS name5,
           right(p_brand, 2)                          AS brand2
    FROM part
    """,
    doc="String family: replace/split-head/translate/position/"
        "levenshtein/reverse/repeat/left/right — Spark twins are "
        "substring_index, instr, substring arithmetic; all stay inside "
        "codegen (levenshtein included, for fuzzy dim-key matching)",
)
def string_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.substring_index("p_name", " ", 1).alias("first_word"),
        F.translate("p_brand", "#", "-").alias("brand_dash"),
        F.instr(F.col("p_name"), "a").cast("long").alias("first_a"),
        F.levenshtein("p_brand", F.lit("PROMO")).cast("long").alias("lev_to_promo"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("*"), (F.col("p_size") % 4).cast("int")).alias("stars"),
        F.col("p_name").substr(1, 5).alias("name5"),
        F.col("p_brand").substr(
            F.length("p_brand") - 1, F.lit(2)
        ).alias("brand2"),
    )


@register(
    "array_hof_pack",
    """
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           round(list_sum(list_transform(embedding,
                 x -> greatest(least(CAST(x AS DOUBLE), 0.5), -0.5))), 6)
             AS clipped_sum,
           CAST(list_max(embedding) AS DOUBLE) >= 0.0 AS has_nonneg_max
    FROM embeddings
    """,
    doc="Higher-order array functions (filter/transform/aggregate/max) "
        "over the embedding column — per-row lambda pipelines that stay "
        "JVM-side with zero Python; the building blocks every custom "
        "vector op here composes from",
)
def array_hof_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    l2 = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: xd(x) * xd(x)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    clipped = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.greatest(F.least(xd(x), F.lit(0.5)), F.lit(-0.5)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(l2, 6).alias("l2_norm"),
        F.round(clipped, 6).alias("clipped_sum"),
        (F.array_max("embedding").cast("double") >= 0.0).alias("has_nonneg_max"),
    )


@register(
    "partition_content_checksum",
    """
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substring(md5(
                 CAST(event_id AS VARCHAR) || '|' || event_type || '|'
                 || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT))
             AS BIGINT) AS content_checksum
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
    doc="Anti-entropy partition checksum — the replica/table-diff "
        "primitive: every row is canonicalized to a delimited key "
        "string, MD5'd, and the first 32 bits are SUMMED per day "
        "partition. Sum is order-insensitive, so two replicas (or a "
        "source and its copy) agree iff their per-partition checksums "
        "agree — comparing day partitions of a 100 TB table costs one "
        "scan each side plus a days-sized join, no row shipping. 32-bit "
        "terms keep a billion-row partition's sum under 2^62 (bound "
        "comment-audited); MD5-prefix parsing is engine-portable "
        "(conv(_,16,10) / '0x' cast). One partial-aggregatable shuffle "
        "on day",
)
def partition_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.col("user_id").cast("string"),
    )
    h32 = F.conv(F.substring(F.md5(canon.cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h32).alias("content_checksum"),
        )
        .select("day", "n_rows", F.col("content_checksum").cast("long").alias("content_checksum"))
    )


@register(
    "shuffle_key_skew_profile",
    """
    WITH per_key AS (
      SELECT event_type, CAST(ts AS DATE) AS k,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(m) AS BIGINT) AS total_rows,
           CAST(MAX(m) AS BIGINT) AS max_key_rows,
           CAST(SUM(m * m) AS BIGINT) AS self_join_rows,
           CAST(MAX(m) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(m) AS DOUBLE) AS skew_ratio
    FROM per_key GROUP BY event_type
    """,
    doc="Shuffle-key skew pre-flight — the audit a pipeline runs BEFORE "
        "committing to a join/groupBy key at 100 TB: per-key "
        "multiplicities m, their max (the straggler partition), "
        "sum(m^2) (the EXACT output size of a self-join on that key — "
        "the LSH-band blowup predictor), and skew_ratio = max/avg "
        "(>10 means salt the key; the number operators/joins."
        "salted_join acts on). Two partial-aggregatable shuffles "
        "(key-level then group-level), both on shrinking aggregates — "
        "the profile of a petabyte table is KB-sized. All counts are "
        "exact BIGINTs; the single division is the last step on "
        "identical exact operands",
)
def shuffle_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("k")
    ).agg(F.count(F.lit(1)).alias("m"))
    m, nk = F.col("m"), F.count(F.lit(1))
    return per_key.groupBy("event_type").agg(
        nk.cast("long").alias("n_keys"),
        F.sum(m).cast("long").alias("total_rows"),
        F.max(m).cast("long").alias("max_key_rows"),
        F.sum(m * m).cast("long").alias("self_join_rows"),
        (
            F.max(m).cast("double") * nk.cast("double")
            / F.sum(m).cast("double")
        ).alias("skew_ratio"),
    )


def _keyset_boundary(df: DataFrame, keys: list[str], page_size: int) -> DataFrame:
    """Page boundary for keyset pagination, with the cursor contract
    guarded in-query (VERDICT r9 item 6): one row, column ``b`` = the
    STRUCT of the page's last key tuple.

    Reads ``page_size + 1`` rows via two TakeOrderedAndProject steps
    (top-(N+1) asc, then top-2 desc — never a global-order window). If
    the table holds more than ``page_size`` rows AND rows N and N+1
    share the full key tuple, the cursor is ambiguous at the page edge
    — every tuple-equal row beyond the page would be silently SKIPPED
    by the strict seek predicate — so the query raise_error's, listing
    the duplicated cursor tuple. This is the exact skip condition:
    duplicates fully inside a page are harmless (all exported on that
    page), so corpus-wide uniqueness is sufficient but not necessary,
    and the guard costs O(page), never a second table scan."""
    tup = F.struct(*keys)
    topn1 = df.select(*keys).orderBy(*keys).limit(page_size + 1)
    cnt_df = topn1.agg(F.count(F.lit(1)).alias("cnt"))
    last2 = (
        topn1.orderBy(*[F.col(k).desc() for k in keys])
        .limit(2)
        .agg(F.min(tup).alias("lo"), F.max(tup).alias("hi"))
    )
    # cnt > page_size: lo = row N (the boundary), hi = row N+1 — they
    # must differ or the cursor skips. cnt <= page_size: hi IS the last
    # row (no row beyond the page, nothing to skip). cnt = 0: there is
    # no boundary tuple at all — a silent NULL struct would make the
    # downstream strict seek filter EVERY row, indistinguishable from a
    # legitimately empty next page, so fail loudly instead (ADVICE r10).
    guarded = F.when(
        F.col("cnt") == 0,
        F.raise_error(
            F.lit(
                "keyset boundary requested on an empty input table: "
                "no cursor tuple exists (a NULL boundary would filter "
                "all rows downstream)"
            )
        ),
    ).when(
        F.col("cnt") > page_size,
        F.when(F.col("lo") != F.col("hi"), F.col("lo")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "keyset cursor tuple duplicated across the page "
                        "boundary (strict seek would skip rows): "
                    ),
                    F.to_json(F.col("hi")),
                )
            )
        ),
    ).otherwise(F.col("hi"))
    return last2.crossJoin(cnt_df).select(guarded.alias("b"))


@register(
    "keyset_pagination_seek",
    """
    WITH page2 AS (
      SELECT l_shipdate, l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      LIMIT 200
    ),
    boundary AS (
      SELECT l_shipdate AS bd, l_orderkey AS bk, l_linenumber AS bn,
             l_quantity AS bq
      FROM page2
      ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC,
               l_quantity DESC
      LIMIT 1
    )
    SELECT l_shipdate, l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem, boundary
    WHERE l_shipdate > bd
       OR (l_shipdate = bd AND (l_orderkey > bk
           OR (l_orderkey = bk AND (l_linenumber > bn
               OR (l_linenumber = bn AND l_quantity > bq)))))
    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
    LIMIT 100
    """,
    doc="Keyset (seek-method) pagination — the scale-correct export "
        "cursor: page N+1 starts strictly after the last key tuple of "
        "page N via a lexicographic seek predicate, NEVER via OFFSET. "
        "At 100 TB the difference is structural: OFFSET re-scans and "
        "re-sorts everything before the page on every request, while "
        "the seek predicate's leading column (l_shipdate > bd) is a "
        "pushable range filter — partition/row-group pruning skips all "
        "already-exported data and the LIMIT plans as "
        "TakeOrderedAndProject. The boundary tuple itself is resolved "
        "once (here: a one-row window subquery standing in for 'page "
        "2's last row'; a real cursor passes it as literals). The "
        "tuple comparison is spelled as the portable OR-expansion so "
        "any ANSI engine executes the identical predicate. The cursor "
        "includes l_quantity because this dataset's "
        "(shipdate, orderkey, linenumber) is NOT unique (8 dupes at "
        "sf0.01) — a non-unique cursor silently skips or repeats rows "
        "at page boundaries, the classic keyset-pagination bug. The "
        "cursor contract is GUARDED IN-QUERY (VERDICT r9 item 6), not "
        "assumed from test-time data audits: _keyset_boundary reads "
        "page_size+1 rows and raise_error's, listing the duplicated "
        "cursor tuple, iff rows 200 and 201 share the 4-tuple — the "
        "exact (necessary and sufficient) skip condition, O(page) "
        "cost, so a regenerated dataset that breaks uniqueness fails "
        "loudly instead of silently dropping export rows",
)
def keyset_pagination_seek(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"]
    boundary = _keyset_boundary(li, keys, page_size=200).select(
        F.col("b").getField("l_shipdate").alias("bd"),
        F.col("b").getField("l_orderkey").alias("bk"),
        F.col("b").getField("l_linenumber").alias("bn"),
        F.col("b").getField("l_quantity").alias("bq"),
    )
    seek = (F.col("l_shipdate") > F.col("bd")) | (
        (F.col("l_shipdate") == F.col("bd"))
        & (
            (F.col("l_orderkey") > F.col("bk"))
            | (
                (F.col("l_orderkey") == F.col("bk"))
                & (
                    (F.col("l_linenumber") > F.col("bn"))
                    | (
                        (F.col("l_linenumber") == F.col("bn"))
                        & (F.col("l_quantity") > F.col("bq"))
                    )
                )
            )
        )
    )
    return (
        li.crossJoin(F.broadcast(boundary))
        .filter(seek)
        .select(
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("l_quantity"),
        )
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .limit(100)
    )


# Packing factor for the sorted-export order key: days*2^35 keeps the
# (shipdate, orderkey, linenumber) tuple's lexicographic order as ONE
# BIGINT comparison (days < 2^15, orderkey < 2^32, linenumber < 8 at
# every generated SF; at sf100+ orderkey exceeds 2^32 and the packed
# key gives way to the raw struct key the production writer sorts on).
_PK_DAY_FACTOR = 34359738368  # 2^35


def _sorted_export_pk() -> "F.Column":
    return (
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long")
        * F.lit(_PK_DAY_FACTOR).cast("long")
        + F.col("l_orderkey").cast("long") * 8
        + F.col("l_linenumber").cast("long")
    )


@register(
    "sorted_export_ntile_ranges",
    f"""
    WITH k AS (
      SELECT (DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                * {_PK_DAY_FACTOR}
              + l_orderkey * 8 + l_linenumber) AS pk
      FROM lineitem
    ), t AS (
      SELECT pk, NTILE(8) OVER (ORDER BY pk) AS file_id FROM k
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           COUNT(*) AS n_rows,
           MIN(pk) AS min_pk,
           MAX(pk) AS max_pk
    FROM t GROUP BY file_id
    """,
    doc="Total-order sorted export, row-to-file-range assignment law "
        "(VERDICT r10 item 2): which rows land in which of the 8 "
        "sorted output files, as per-file (count, min_pk, max_pk) — "
        "exact NTILE(8) semantics, hash-checked against DuckDB's "
        "NTILE. The production writer (io.export_sorted) uses sampled "
        "RangePartitioning for row-balanced files; its boundaries are "
        "sampler-dependent, so THIS entry pins the law with a "
        "deterministic equivalent: exact global rank via "
        "bucket-local row_number + bucket prefix-sum offsets, where "
        "the bucket (32-day window of l_shipdate = the packed key's "
        "leading bits) is a PURE FUNCTION of the row — no sampling, "
        "no driver collect, fully declarative. Shape: one narrow "
        "3-column scan -> hash shuffle on ~80 buckets for the "
        "partitioned row_number window (never a global-order window: "
        "the only unpartitioned window runs over the ~80-row "
        "per-bucket count frame), prefix-sum offsets broadcast back, "
        "NTILE arithmetic from the total-count scalar, then one "
        "8-group aggregate. Per-bucket aggregates are tie-insensitive "
        "(duplicate (shipdate,orderkey,linenumber) tuples share pk, "
        "and swapping equal-pk rows across a bucket boundary changes "
        "neither counts nor min/max), so the hash is deterministic on "
        "both engines. At 100 TB the bucket width is the parallelism "
        "knob (day-granular buckets -> thousands of tasks); the "
        "file-boundary monotonicity + content equality of the real "
        "sampled writer are pinned in tests/test_scale_plans.py",
)
def sorted_export_ntile_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    n_files = 8
    proj = li.select(
        _sorted_export_pk().alias("pk"),
        # Bucket = the packed key's leading bits (32-day windows), so
        # bucket order == pk order and buckets never interleave.
        F.floor(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            / 32
        )
        .cast("long")
        .alias("ym"),
    )
    per_bucket = proj.groupBy("ym").agg(F.count(F.lit(1)).alias("bn"))
    # ~80 rows: the single-partition prefix-sum window is over the
    # BUCKET COUNT frame, never the data.
    w_off = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding, -1)
    offs = per_bucket.select(
        "ym",
        F.coalesce(F.sum("bn").over(w_off), F.lit(0)).cast("long").alias("off"),
    )
    total = per_bucket.agg(F.sum("bn").cast("long").alias("n_total"))
    w_rn = Window.partitionBy("ym").orderBy("pk")
    ranked = (
        proj.withColumn("rn", F.row_number().over(w_rn))
        .join(F.broadcast(offs), "ym")
        .crossJoin(F.broadcast(total))
        .select(
            "pk",
            (F.col("off") + F.col("rn").cast("long")).alias("rank"),
            "n_total",
        )
    )
    # Exact NTILE(k): the first (n % k) files take ceil(n/k) rows, the
    # rest floor(n/k). floor(double) is exact here (n < 2^52).
    q = F.floor(F.col("n_total") / n_files).cast("long")
    r = F.pmod(F.col("n_total"), F.lit(n_files)).cast("long")
    big = r * (q + F.lit(1))  # rows covered by the (q+1)-sized files
    file_id = F.when(
        F.col("rank") <= big,
        F.floor((F.col("rank") - 1) / (q + F.lit(1))) + F.lit(1),
    ).otherwise(
        # q = 0 only when n < k; then rank <= big always holds and this
        # branch (with its division by q) is never evaluated.
        r + F.floor((F.col("rank") - big - F.lit(1)) / q) + F.lit(1)
    )
    return (
        ranked.select(file_id.cast("long").alias("file_id"), "pk")
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
    )


@register(
    "gdpr_delete_roundtrip",
    """
    WITH staged AS (
      SELECT CAST(ts AS DATE) AS tanggal, event_id, user_id,
             CAST(value AS DECIMAL(18,2)) AS amount
      FROM events WHERE event_type = 'purchase' AND event_id < 10000
    )
    SELECT tanggal, event_id, user_id, amount
    FROM staged
    WHERE NOT (user_id % 7 = 3
               OR tanggal = (SELECT MIN(tanggal) FROM staged))
    """,
    doc="GDPR partition-pruned DELETE under the correctness gate "
        "(VERDICT r11 item 3): stage a day-partitioned parquet table "
        "(same bounded staged frame as partitioned_write_roundtrip), "
        "run io.delete_where_partitioned with a planted predicate that "
        "BOTH partially deletes many days (user_id % 7 = 3 — the "
        "right-to-be-forgotten shape: one user's rows scattered across "
        "days) AND fully clears one day (tanggal = min day — the "
        "dynamic-overwrite delete gap where the emptied partition "
        "directory must be removed explicitly), then hash-check the "
        "SURVIVING content read back from disk against the oracle's "
        "closed-form restatement. Scale: the delete rewrites only "
        "affected day-partitions (O(affected days), never O(table)); "
        "file-level byte-identity of untouched days is pytest-pinned "
        "in tests/test_scale_plans.py; this entry gives the write "
        "primitive its driver hash. Bounded staging (event_id < 10000 "
        "= the full table at the sf0.01 gate, so hashes are "
        "SF-stable) keeps the driver-side materialization O(1) at any "
        "SF (the partitioned_write_roundtrip convention)",
)
def gdpr_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from etl_tj_project_spark.io import (
        delete_where_partitioned,
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") < 10000)
    )
    df = ev.select(
        F.col("ts").cast("date").alias("tanggal"),
        "event_id",
        "user_id",
        F.col("value").cast(AMOUNT).alias("amount"),
    )
    out = tempfile.mkdtemp(prefix="tj_gdpr_")
    try:
        write_partitioned(df, out, partition_col="tanggal")
        # One-row bounded scalar: the day to clear completely.
        kill_day = df.agg(F.min("tanggal")).collect()[0][0]
        pred = (F.col("user_id") % 7 == 3) | (
            F.col("tanggal") == F.lit(str(kill_day)).cast("date")
        )
        delete_where_partitioned(spark, out, pred, partition_col="tanggal")
        back = spark.read.parquet(out).select(
            "tanggal", "event_id", "user_id", "amount"
        )
        # Materialize so the temp table can be deleted now (survivor set
        # is bounded by the staged cap — the roundtrip convention).
        return spark.createDataFrame(back.collect(), schema=back.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "merge_sorted_export_roundtrip",
    """
    WITH base AS (
      SELECT doc_id AS k, CAST(n_chars AS BIGINT) AS payload
      FROM documents WHERE doc_id < 500
    ),
    t AS (SELECT k, payload, NTILE(4) OVER (ORDER BY k) AS f FROM base),
    ranges AS (SELECT f, MIN(k) AS lo FROM t GROUP BY f),
    delta AS (
      SELECT (doc_id * 37) % 500 AS k,
             CAST(n_chars + 1000000 AS BIGINT) AS payload
      FROM documents WHERE doc_id % 100 = 3
    ),
    asg AS (
      SELECT d.k, d.payload,
             COALESCE((SELECT MAX(r.f) FROM ranges r WHERE r.lo <= d.k),
                      (SELECT MIN(f) FROM ranges)) AS f
      FROM delta d
    ),
    merged AS (
      SELECT k, payload, f FROM t UNION ALL SELECT k, payload, f FROM asg
    )
    SELECT CAST(f AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key,
           CAST(SUM(payload) AS BIGINT) AS sum_payload
    FROM merged GROUP BY f
    """,
    doc="Incremental sorted-export maintenance under the correctness "
        "gate (VERDICT r11 item 3): build a 4-file sorted export of "
        "(doc_id, n_chars) with DETERMINISTIC exact-NTILE file "
        "boundaries (the production io.export_sorted samples its "
        "boundaries, so this entry constructs the base with the same "
        "NTILE law sorted_export_ntile_ranges pins — driver-side over "
        "the <=500-row bounded base, the write-path-entry convention), "
        "fold in a planted delta (keys (doc_id*37) % 500 scatter "
        "across the key space; payload offset +1000000 makes delta "
        "rows distinguishable in the per-file sums) via "
        "io.merge_sorted_export, and hash-check the per-file "
        "(n_rows, min, max, sum) stats of the MERGED export read back "
        "from disk. The oracle restates the whole law closed-form: "
        "NTILE(4) base assignment, last-lo-<=-key delta ownership "
        "with below-all-ranges folding into the first file, then "
        "per-file aggregates — so the hash proves the broadcast "
        "range-join assignment, the touched-file rewrite, AND the "
        "untouched-file copy (a dropped or double-counted row anywhere "
        "shifts a file's n_rows/sum). Scale: merge work is O(touched "
        "files + delta), untouched bytes move server-side through the "
        "Hadoop FS API; plan/FS invariants pytest-pinned in "
        "tests/test_scale_plans.py",
)
def merge_sorted_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import LongType, StructField, StructType

    from etl_tj_project_spark.io import merge_sorted_export

    docs = load_table(spark, sf_dir, "documents")
    # Bounded base (<=500 rows by the key cut): exact NTILE(4) split,
    # driver-side — the base CONSTRUCTION is test scaffolding; the op
    # under test is the distributed merge below.
    base_rows = sorted(
        docs.filter(F.col("doc_id") < 500).select("doc_id", "n_chars").collect(),
        key=lambda r: r.doc_id,
    )
    n, k = len(base_rows), 4
    q, rmd = divmod(n, k)
    sizes = [q + 1] * rmd + [q] * (k - rmd)
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )
    root = tempfile.mkdtemp(prefix="tj_msort_rt_")
    src_dir = os.path.join(root, "base")
    out_dir = os.path.join(root, "out")
    os.makedirs(src_dir)
    try:
        pos = 0
        for i, sz in enumerate(sizes):
            if sz == 0:
                continue
            chunk = [tuple(r) for r in base_rows[pos : pos + sz]]
            pos += sz
            tmp = os.path.join(root, f"tmp{i}")
            (
                spark.createDataFrame(chunk, schema)
                .coalesce(1)
                .sortWithinPartitions("doc_id")
                .write.parquet(tmp)
            )
            part = next(
                p for p in sorted(os.listdir(tmp)) if p.endswith(".parquet")
            )
            os.replace(
                os.path.join(tmp, part),
                os.path.join(src_dir, f"part-{i:05d}.parquet"),
            )
            shutil.rmtree(tmp, ignore_errors=True)
        delta = docs.filter(F.col("doc_id") % 100 == 3).select(
            ((F.col("doc_id") * 37) % 500).alias("doc_id"),
            (F.col("n_chars") + 1000000).alias("n_chars"),
        )
        merge_sorted_export(spark, src_dir, delta, ["doc_id"], out_dir)
        per_file = sorted(
            spark.read.parquet(out_dir)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("doc_id").cast("long").alias("min_key"),
                F.max("doc_id").cast("long").alias("max_key"),
                F.sum("n_chars").cast("long").alias("sum_payload"),
            )
            .collect(),  # bounded: one row per export file (<=4)
            key=lambda r: r.f,
        )
        out_schema = StructType(
            [
                StructField("file_id", LongType(), False),
                StructField("n_rows", LongType(), True),
                StructField("min_key", LongType(), True),
                StructField("max_key", LongType(), True),
                StructField("sum_payload", LongType(), True),
            ]
        )
        return spark.createDataFrame(
            [
                (i + 1, r.n_rows, r.min_key, r.max_key, r.sum_payload)
                for i, r in enumerate(per_file)
            ],
            schema=out_schema,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# =========================================================================
# Extended TPC-H shapes: correlated EXISTS, count distributions,
# scalar-subquery max/avg, disjunctive predicates
# =========================================================================


_SQL_REV = f"{_SQL_PRICE} * ({_SQL_ONE} - {_SQL_DISC})"


def _rev(li: DataFrame) -> "F.Column":
    """Exact-decimal line revenue: price * (1 - disc), scale 4."""
    return F.col("price") * (_one() - F.col("disc"))


@register(
    "tpch_q4ish_late_order_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
      )
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape (commitdate/receiptdate absent → 'shipped >60d "
        "after order' stands in): correlated EXISTS with a NON-EQUI "
        "cross-table condition, then count by priority. Spark plan: "
        "left-semi hash join on orderkey with the date comparison as a "
        "join-side predicate — one shuffle, no per-row re-execution",
)
def tpch_q4ish_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"].cast("date")
        > F.date_add(o["o_orderdate"].cast("date"), 60)
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT)
             AS l_year,
           CAST(SUM({_SQL_REV}) AS DECIMAL(18,4)) AS revenue
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey  = o.o_custkey
    JOIN supplier s  ON s.s_suppkey  = l.l_suppkey
    JOIN nation n1   ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2   ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
      AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1998-01-01'
                                         AND DATE '1999-12-31'
    GROUP BY n1.n_name, n2.n_name,
             CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT)
    """,
    doc="TPC-H Q7 volume shipping: 6-way join with TWO roles of the same "
        "dim (supplier-nation vs customer-nation) and a symmetric pair "
        "predicate. Both nation joins broadcast; the only shuffles are "
        "lineitem⋈orders on orderkey and ⋈customer on custkey",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate").cast("date").between("1998-01-01", "1999-12-31")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .withColumn("l_year", F.year(F.col("l_shipdate").cast("date")))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(_rev(li)).cast(AMOUNT4).alias("revenue"))
    )


@register(
    "tpch_q8_market_share",
    f"""
    WITH all_sales AS (
      SELECT CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT)
               AS o_year,
             {_SQL_REV} AS volume,
             n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON l.l_partkey = p.p_partkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1997-01-01'
                                            AND DATE '1998-12-31'
    )
    SELECT o_year,
           round(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM all_sales GROUP BY o_year
    """,
    doc="TPC-H Q8 market share: 8-way star join + conditional share-of-"
        "total ratio. Exact decimal numerator/denominator make the double "
        "division order-insensitive. part is the selective filter — at "
        "100 TB, AQE turns the post-filter part side into a broadcast",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date").between("1997-01-01", "1998-12-31")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    vol = _rev(li).alias("volume")
    sales = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
            vol,
            "supp_nation",
        )
    )
    zero = F.lit(0).cast(AMOUNT4)
    nat_vol = F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(
        zero
    )
    return sales.groupBy("o_year").agg(
        F.round(
            F.sum(nat_vol).cast("double") / F.sum("volume").cast("double"), 6
        ).alias("mkt_share")
    )


@register(
    "tpch_q9ish_product_profit",
    f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT)
             AS o_year,
           CAST(SUM({_SQL_REV}) AS DECIMAL(18,4)) AS sum_profit
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name,
             CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT)
    """,
    doc="TPC-H Q9 shape (no partsupp → profit is discounted revenue): "
        "LIKE-filtered part ⋈ fact ⋈ supplier→nation, grouped by nation × "
        "year. The '%red%' contains-filter cannot prune at the scan, but "
        "the post-filter broadcast keeps the fact-side single-shuffle",
)
def tpch_q9ish_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
            _rev(li).alias("volume"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("volume").cast(AMOUNT4).alias("sum_profit"))
    )


@register(
    "tpch_q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_SQL_REV}) AS DECIMAL(18,4)) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1998-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1998-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 returned items: fact⋈fact join + wide group key + "
        "deterministic top-20 (revenue DESC, custkey tiebreak) through "
        "TakeOrderedAndProject — no global sort at any scale",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1998-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1998-04-01").cast("date"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev(li)).cast(AMOUNT4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q12ish_priority_by_returnflag",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '2000-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '2001-01-01'
    GROUP BY l.l_returnflag
    """,
    doc="TPC-H Q12 shape (l_shipmode absent → returnflag groups): "
        "CASE-inside-SUM two-way conditional count after an equi-join; "
        "the CASE folds into the partial aggregate map-side",
)
def tpch_q12ish_priority_by_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("2000-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("2001-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
    doc="TPC-H Q13 customer distribution: outer join with an extra join-"
        "side predicate, COUNT of the null-able side, then a second "
        "aggregation over the count itself. Two shuffles (custkey, then "
        "c_count) — the second input is |customers| rows, tiny",
)
def tpch_q13_order_count_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (o["o_custkey"] == c["c_custkey"]) & (
        o["o_orderpriority"] != "5-LOW"
    )
    per_cust = (
        c.join(o, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_SQL_REV}) AS DECIMAL(18,4)) AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
        AND CAST(l_shipdate AS DATE) <  DATE '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue0 r ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
    doc="TPC-H Q15 top supplier: view + scalar-subquery MAX equality. "
        "Exact decimal revenue makes the = safe (no float compare). "
        "Spark: the 1-row global max is cross-broadcast back — no "
        "collect, no second scan of lineitem (agg reuses the view)",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem")).filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1998-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-04-01").cast("date"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev(li)).cast(AMOUNT4).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev["total_revenue"] == mx["max_rev"])
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17ish_small_qty_revenue",
    f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(SUM({_SQL_PRICE}) AS DOUBLE) / 7.0, 6) AS avg_yearly
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN per_part a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND CAST(l.l_quantity AS DOUBLE) < 0.2 * a.avg_qty
    """,
    doc="TPC-H Q17 small-quantity revenue: correlated per-part AVG "
        "subquery, decorrelated to aggregate-then-join (what Catalyst "
        "does to the EXISTS form anyway). The avg is an exact decimal "
        "sum over a bigint count so both engines derive bit-identical "
        "thresholds; single global row out",
)
def tpch_q17ish_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    per_part = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum("qty").cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(per_part, li["l_partkey"] == per_part["a_partkey"])
        .filter(F.col("l_quantity").cast("double") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(F.sum("price").cast("double") / F.lit(7.0), 6).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "tpch_q19_disjunctive_predicates",
    f"""
    SELECT CAST(SUM({_SQL_REV}) AS DECIMAL(18,4)) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND CAST(l.l_quantity AS DOUBLE) BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND CAST(l.l_quantity AS DOUBLE) BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND CAST(l.l_quantity AS DOUBLE) BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 disjunctive predicates: OR-of-conjunctions spanning "
        "both join sides. Catalyst extracts the common single-side "
        "implications (brand∈{...}, qty≤30) and pushes them below the "
        "join; the residual OR evaluates post-join in codegen",
)
def tpch_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    p = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast("double")
    branch = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & qty.between(qlo, qhi)
    )
    pred = (
        branch("Brand#12", 5, 1, 11)
        | branch("Brand#23", 10, 10, 20)
        | branch("Brand#34", 15, 20, 30)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(pred)
        .agg(F.sum(_rev(li)).cast(AMOUNT4).alias("revenue"))
    )


@register(
    "tpch_q21ish_lone_late_supplier",
    """
    WITH li AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN CAST(l.l_shipdate AS DATE)
                       > CAST(o.o_orderdate AS DATE) + 90
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    order_stats AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
               AS n_late
      FROM li GROUP BY l_orderkey
    ),
    culprit AS (
      SELECT DISTINCT li.l_orderkey, li.l_suppkey
      FROM li JOIN order_stats os ON os.l_orderkey = li.l_orderkey
      WHERE li.is_late = 1 AND os.n_supp >= 2 AND os.n_late = 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM culprit c JOIN supplier s ON s.s_suppkey = c.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (receipt/commit dates absent → 'shipped >90d "
        "after order' is the lateness test): the classic EXISTS(other "
        "supplier) AND NOT EXISTS(other late supplier) pair. Round-15 "
        "rewrite: the previous stats+join-back form consumed "
        "lineitem⋈orders TWICE (two scans, and the countDistinct "
        "expand key blocked exchange reuse between the branches — "
        "VERDICT r14 item 3). Now ONE pass: reduce to distinct "
        "(orderkey, suppkey, max(is_late)) pairs — one shuffle of the "
        "fact — then both EXISTS branches are window counts over the "
        "order-keyed PAIR table (supplier count per order is bounded, "
        "so the window partition cannot skew). sf0.1 A/B: 1.14 -> "
        "0.97 s, exchanges 7 -> 5, lineitem scans 2 -> 1, identical "
        "results at sf0.01/sf0.1",
)
def tpch_q21ish_lone_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = (
        load_table(spark, sf_dir, "lineitem")
        # No broadcast hint: orders is a fact table — Catalyst/AQE
        # picks broadcast at bench scale and SMJ at cluster scale.
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate").cast("date")
                > F.date_add(F.col("o_orderdate").cast("date"), 90),
                1,
            )
            .otherwise(0)
            .alias("is_late"),
        )
    )
    pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("late")
    )
    w = Window.partitionBy("l_orderkey")
    culprit = (
        pair.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter(
            (F.col("late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
        .select("l_orderkey", "l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        culprit.join(F.broadcast(s), culprit["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "tpch_q22ish_idle_customers",
    """
    WITH pos AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer
      WHERE CAST(c_acctbal AS DOUBLE) > 0.0
        AND substring(c_name, 17, 2) IN ('01','02','03','04','05','06','07')
    )
    SELECT substring(c.c_name, 17, 2) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2))
             AS totacctbal
    FROM customer c, pos
    WHERE substring(c.c_name, 17, 2) IN ('01','02','03','04','05','06','07')
      AND CAST(c.c_acctbal AS DOUBLE) > pos.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND CAST(o.o_orderdate AS DATE) >= DATE '2000-07-01')
    GROUP BY substring(c.c_name, 17, 2)
    """,
    doc="TPC-H Q22 shape (c_phone absent → a c_name digit slice is the "
        "country code): scalar-subquery AVG threshold + NOT EXISTS anti-"
        "join + group over the derived code. 'Idle' = no orders on/after "
        "2000-07-01 (every sf0.01 customer has SOME order, so an "
        "unconditioned NOT EXISTS is vacuously empty — the date filter "
        "keeps the result non-empty at sf0.001/0.01/0.1 AND shrinks the "
        "anti-join build side). The 1-row avg broadcasts; the anti join "
        "builds on date-filtered orders only",
)
def tpch_q22ish_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = ("01", "02", "03", "04", "05", "06", "07")
    c = load_table(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.substring("c_name", 17, 2)
    )
    in_codes = c.filter(F.col("cntrycode").isin(*codes))
    avg_bal = in_codes.filter(F.col("c_acctbal").cast("double") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("2000-07-01").cast("date")
    )
    return (
        in_codes.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(o, o["o_custkey"] == F.col("c_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("totacctbal"),
        )
    )


# =========================================================================
# Round-3 completions: the last classic shapes (Q2/Q11/Q16/Q20 analogues).
# partsupp does not exist in the reduced schema; lineitem aggregated to
# (partkey, suppkey) stands in as the supplier-offer table, preserving
# each query's operator shape (min-per-group equality join, scalar-
# subquery threshold, NOT-IN anti join + multi-key distinct count,
# IN-subquery semi join over a HAVING aggregate).
# =========================================================================

@register(
    "tpch_q2ish_min_cost_supplier",
    f"""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM({_SQL_PRICE}) AS DECIMAL(18,2)) AS supply_value
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), rs AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
                      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
    ), cand AS (
      SELECT p.p_partkey, rs.s_name, rs.s_acctbal, rs.n_name, o.supply_value,
             MIN(o.supply_value) OVER (PARTITION BY p.p_partkey) AS min_value
      FROM part p
      JOIN offers o ON o.l_partkey = p.p_partkey
      JOIN rs ON rs.s_suppkey = o.l_suppkey
      WHERE p.p_size = 15 AND p.p_type = 'SMALL'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, supply_value
    FROM cand WHERE supply_value = min_value
    """,
    doc="TPC-H Q2 shape (min-cost supplier per part): correlated scalar "
        "MIN subquery decorrelated to a per-part window MIN + exact-"
        "decimal equality (float argmin would be engine-divergent in the "
        "last ulp; decimal sums are not). The region-filtered supplier "
        "side and the filtered part side both broadcast; the offer "
        "table shuffles once on (partkey, suppkey); the window runs on "
        "post-filter candidate rows only",
)
def tpch_q2ish_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("price").cast(AMOUNT).alias("supply_value")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rs = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    cand = (
        offers.join(F.broadcast(p), offers["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(rs), offers["l_suppkey"] == rs["s_suppkey"])
        .select("p_partkey", "s_name", "s_acctbal", "n_name", "supply_value")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_value", F.min("supply_value").over(w))
        .filter(F.col("supply_value") == F.col("min_value"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supply_value")
    )


@register(
    "tpch_q11ish_value_concentration",
    f"""
    WITH natline AS (
      SELECT l.l_partkey, {_SQL_PRICE} AS price
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
                      JOIN nation n ON n.n_nationkey = s.s_nationkey
                      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ), per_part AS (
      SELECT l_partkey, CAST(SUM(price) AS DECIMAL(18,2)) AS part_value
      FROM natline GROUP BY l_partkey
    ), total AS (
      SELECT CAST(SUM(price) AS DECIMAL(18,2)) AS total_value FROM natline
    )
    SELECT l_partkey, part_value FROM per_part, total
    WHERE part_value * 10000 > total_value
    """,
    doc="TPC-H Q11 shape (value concentration): group aggregate compared "
        "against a scalar-subquery global total. The threshold compare "
        "is exact-integer-scaled decimal (value*10000 > total) instead "
        "of the spec's total*0.0001 so neither engine divides (division "
        "scale rules differ; multiplication is exact on both). The "
        "1-row total broadcasts; one shuffle on partkey reused by both "
        "aggregates at the DataFrame level",
)
def tpch_q11ish_value_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rs = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey")
    )
    natline = li.join(
        F.broadcast(rs), li["l_suppkey"] == rs["s_suppkey"]
    ).select("l_partkey", "price")
    per_part = natline.groupBy("l_partkey").agg(
        F.sum("price").cast(AMOUNT).alias("part_value")
    )
    total = natline.agg(F.sum("price").cast(AMOUNT).alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") * 10000 > F.col("total_value"))
        .select("l_partkey", "part_value")
    )


@register(
    "tpch_q16ish_supplier_cnt_by_part",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#4' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape (supplier count by part attributes): NOT IN "
        "subquery over a key with no NULLs = broadcast LEFT ANTI join "
        "(the 'complaints' exclusion), then COUNT(DISTINCT) grouped on "
        "three part attributes. The anti-join build side is the tiny "
        "filtered supplier list; one Expand-based distinct aggregate "
        "shuffle on the 3-attribute key",
)
def tpch_q16ish_supplier_cnt_by_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20ish_excess_stock_suppliers",
    """
    SELECT s.s_name, s.s_acctbal
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
                    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'AMERICA'
      AND s.s_suppkey IN (
        SELECT big.l_suppkey FROM (
          SELECT l.l_suppkey, l.l_partkey,
                 CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                   AS DECIMAL(18,2)) AS qty_sum
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          WHERE p.p_name LIKE 'small%'
            AND CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
            AND CAST(l.l_shipdate AS DATE) <  DATE '1999-01-01'
          GROUP BY l.l_suppkey, l.l_partkey
          HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 40
        ) big)
    """,
    doc="TPC-H Q20 shape (excess-stock suppliers): IN-subquery over a "
        "HAVING-filtered aggregate = LEFT SEMI join against the "
        "aggregated (suppkey, partkey) quantity table — the nested "
        "aggregate runs ONCE, not per supplier row. Part filter "
        "broadcasts into the fact scan; exact-decimal HAVING threshold",
)
def tpch_q20ish_excess_stock_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _li_money(load_table(spark, sf_dir, "lineitem")).filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1998-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1999-01-01").cast("date"))
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    big = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("qty").cast(AMOUNT).alias("qty_sum"))
        .filter(F.col("qty_sum") > 40)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(big, s["s_suppkey"] == big["l_suppkey"], "left_semi")
        .select("s_name", "s_acctbal")
    )


# =========================================================================
# Incremental shapes: partial-aggregate merge, range-frame windows
# =========================================================================


@register(
    "reaggregate_partials",
    """
    WITH daily AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS sum_price,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS min_price,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS max_price
      FROM orders GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    )
    SELECT CAST(date_trunc('month', d) AS DATE) AS month,
           CAST(SUM(n_orders) AS BIGINT)  AS n_orders,
           CAST(SUM(sum_price) AS DECIMAL(18,2)) AS sum_price,
           CAST(MIN(min_price) AS DECIMAL(18,2)) AS min_price,
           CAST(MAX(max_price) AS DECIMAL(18,2)) AS max_price,
           round(CAST(SUM(sum_price) AS DOUBLE) / SUM(n_orders), 6)
             AS avg_price
    FROM daily GROUP BY CAST(date_trunc('month', d) AS DATE)
    """,
    doc="Partial-aggregate merge: per-(custkey, day) partials rolled up "
        "to months by the merge algebra (COUNT→SUM, SUM→SUM, MIN→MIN, "
        "MAX→MAX; AVG recomputed from merged sum/count, never averaged "
        "averages). At 100 TB the monthly job reads the partial table — "
        "|keys|×|days| rows — instead of the fact table; the same "
        "two-level plan here IS the incremental plan, just with the "
        "daily CTE materialized",
)
def reaggregate_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast(AMOUNT)
    daily = o.groupBy(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(price).cast(AMOUNT).alias("sum_price"),
        F.min(price).cast(AMOUNT).alias("min_price"),
        F.max(price).cast(AMOUNT).alias("max_price"),
    )
    return daily.groupBy(
        F.date_trunc("month", "d").cast("date").alias("month")
    ).agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("sum_price").cast(AMOUNT).alias("sum_price"),
        F.min("min_price").cast(AMOUNT).alias("min_price"),
        F.max("max_price").cast(AMOUNT).alias("max_price"),
        F.round(
            F.sum("sum_price").cast("double") / F.sum("n_orders"), 6
        ).alias("avg_price"),
    )


@register(
    "window_range_frame",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS revenue
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT d, revenue,
           CAST(SUM(revenue) OVER (
             ORDER BY d
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,2)) AS revenue_7d
    FROM daily
    """,
    doc="RANGE-frame window (value-based, not row-based): trailing 7-day "
        "revenue where gaps in the calendar matter — a ROWS frame would "
        "silently include older days across gaps. Spark expresses the "
        "interval frame as rangeBetween over epoch seconds (UTC session, "
        "so day arithmetic is uniform). Aggregate-first: the window runs "
        "over |days| rows, so the unpartitioned frame is safe at any "
        "fact-table scale",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("revenue")
    )
    day_secs = F.col("d").cast("timestamp").cast("long")
    w = (
        Window.orderBy(day_secs)
        .rangeBetween(-6 * 86400, Window.currentRow)
    )
    return daily.select(
        "d",
        "revenue",
        F.sum("revenue").over(w).cast(AMOUNT).alias("revenue_7d"),
    )


@register(
    "funnel_stages",
    """
    WITH c AS (
      SELECT user_id, MIN(epoch_us(ts)) AS first_click_us
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    conv AS (
      SELECT c.user_id
      FROM c JOIN events e
        ON e.user_id = c.user_id
       AND e.event_type = 'purchase'
       AND epoch_us(e.ts) >= c.first_click_us
      GROUP BY c.user_id
    )
    SELECT 'clicked' AS stage, COUNT(*) AS n_users FROM c
    UNION ALL
    SELECT 'converted' AS stage, COUNT(*) AS n_users FROM conv
    """,
    doc="Funnel analysis: ordered event-sequence matching — users whose "
        "first click is later followed by a purchase. The order "
        "constraint is a non-equi join conjunct on the per-user first-"
        "click time (aggregate-then-join, one shuffle on user_id); "
        "stage counts union into one result. At 100 TB the funnel is "
        "per-user-partitioned work with no cross-user state",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    converted = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("first_click")),
        )
        .select("user_id")
        .distinct()
    )
    n_clicked = clicks.agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit("clicked").alias("stage"), "n_users"
    )
    n_converted = converted.agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit("converted").alias("stage"), "n_users"
    )
    return n_clicked.unionByName(n_converted)


@register(
    "skewed_window_two_phase",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_returnflag
             ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber,
                      CAST(l_quantity AS DECIMAL(18,2))
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,2)) AS running_qty
    FROM lineitem
    """,
    doc="Skewed-window stress: running sum over a THREE-value partition "
        "key (l_returnflag) — the shape that serializes a naive window "
        "into 3 tasks at any cluster size. Implemented as the two-phase "
        "chunked rewrite (operators/windows.py): per-(key, year-chunk) "
        "local windows + broadcast exclusive-prefix offsets, result-"
        "identical to the plain window the oracle states. Parallelism "
        "|keys|×|chunks|; no single-partition sort (plan-pinned)",
)
def skewed_window_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.windows import chunked_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    ship_date = F.col("l_shipdate").cast("date")
    qty = F.col("l_quantity").cast(AMOUNT)
    # The testdata carries intentional duplicate (shipdate, orderkey,
    # linenumber) rows with different quantities (dedup fodder), so the
    # summed value itself is the final tiebreak: remaining ties are then
    # value-identical and the prefix-sum multiset is order-invariant.
    out = chunked_running_sum(
        li,
        key="l_returnflag",
        chunk=F.year(ship_date),
        order_cols=[ship_date, F.col("l_orderkey"), F.col("l_linenumber"), qty],
        value=qty,
        out_col="running_qty",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("running_qty").cast(AMOUNT).alias("running_qty"),
    )


@register(
    "window_first_last",
    """
    SELECT o_orderkey, o_custkey,
           first_value(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
             AS first_price,
           last_value(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
             AS last_price,
           nth_value(CAST(o_totalprice AS DECIMAL(18,2)), 2) OVER w
             AS second_price
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey
      ORDER BY CAST(o_orderdate AS DATE), o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    doc="first/last/nth_value windows with the full-partition frame "
        "spelled explicitly — the default frame (UNBOUNDED PRECEDING → "
        "CURRENT ROW) makes last_value mean 'current row', the classic "
        "silent bug; the ordering carries the unique orderkey tiebreak "
        "so nth_value is deterministic. One shuffle on custkey",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast(AMOUNT)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("date"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first(price).over(w).alias("first_price"),
        F.last(price).over(w).alias("last_price"),
        F.nth_value(price, 2).over(w).alias("second_price"),
    )


@register(
    "interval_containment_join",
    """
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), p AS (
      SELECT epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
    )
    SELECT spans.user_id, spans.day, COUNT(*) AS n_contained
    FROM spans JOIN p ON p.us >= spans.s_us AND p.us <= spans.e_us
    GROUP BY spans.user_id, spans.day
    """,
    doc="Big-big interval-containment join (operators/joins."
        "binned_interval_join): per-(user, day) activity spans joined to "
        "ALL purchase timestamps they contain — no equi key, so a naive "
        "plan is a BroadcastNestedLoopJoin that dies when neither side "
        "broadcasts. The rewrite buckets both sides into 1-hour epoch "
        "bins (intervals explode to overlapped bins, points map to one) "
        "making it a plain equi-join + refine filter; the oracle states "
        "the naive theta-join semantics, proving the rewrite exact",
)
def interval_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.joins import binned_interval_join

    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.min(F.unix_micros("ts")).alias("s_us"),
        F.max(F.unix_micros("ts")).alias("e_us"),
    )
    points = ev.filter(F.col("event_type") == "purchase").select(
        F.unix_micros("ts").alias("us")
    )
    joined = binned_interval_join(
        points, spans, "us", "s_us", "e_us", bin_width=3_600_000_000
    )
    return joined.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_contained")
    )


@register(
    "asof_join_tolerance",
    """
    SELECT p.event_id, p.user_id,
           (SELECT max(epoch_us(c.ts))
            FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND (epoch_us(c.ts) < epoch_us(p.ts)
                   OR (epoch_us(c.ts) = epoch_us(p.ts)
                       AND c.event_id <= p.event_id))
              AND epoch_us(c.ts) >= epoch_us(p.ts) - 21600000000
           ) AS attributed_click_us
    FROM events p WHERE p.event_type = 'purchase'
    """,
    doc="As-of join WITH TOLERANCE (the pandas merge_asof `tolerance` / "
        "kdb wj staleness bound): each purchase takes the user's most "
        "recent click at-or-before it ONLY if within 6 hours, else NULL "
        "— stale attributions are discarded, not silently used. Same "
        "single tagged-union window pass as asof_join (the most recent "
        "click is the only candidate that can satisfy the bound, so the "
        "tolerance is one post-filter, not a second window)",
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    tol_us = 6 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    both = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = both.withColumn(
        "click_us", F.when(F.col("event_type") == "click", F.col("us"))
    ).withColumn(
        "last_click_us", F.last("click_us", ignorenulls=True).over(w)
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.when(
            F.col("us") - F.col("last_click_us") <= tol_us,
            F.col("last_click_us"),
        ).alias("attributed_click_us"),
    )


@register(
    "scd2_apply_changes",
    """
    SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
             AS valid_to_us
    FROM events WHERE event_type = 'signup'
    """,
    doc="Incremental SCD2 maintenance (the MERGE/apply-changes pattern): "
        "an existing SCD2 dim (built from changes before 2024-01-25) "
        "absorbs a delta batch by rewriting ONLY touched users — "
        "untouched users pass through via LEFT ANTI join, touched users "
        "rebuild from (their old rows + delta) via the same window. The "
        "oracle is the FULL recompute over all changes, proving "
        "incremental == recompute exactly. At 100 TB the anti/semi "
        "split is the whole point: the delta touches a fraction of "
        "users, so the rewrite is delta-sized, not dim-sized",
)
def scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.to_timestamp(F.lit("2024-01-25"))
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    sig = ev.select("user_id", "event_id", F.unix_micros("ts").alias("us"))
    cutoff_us = F.unix_micros(cutoff)
    base = sig.filter(F.col("us") < cutoff_us)
    delta = sig.filter(F.col("us") >= cutoff_us)

    w = Window.partitionBy("user_id").orderBy("us", "event_id")

    def ranges(points: DataFrame) -> DataFrame:
        return points.select(
            "user_id",
            "event_id",
            F.col("us").alias("valid_from_us"),
            F.lead("us").over(w).alias("valid_to_us"),
        )

    old_dim = ranges(base)
    touched = delta.select("user_id").distinct()
    untouched = old_dim.join(F.broadcast(touched), "user_id", "left_anti")
    rebuilt_points = (
        old_dim.join(F.broadcast(touched), "user_id", "left_semi")
        .select(
            "user_id", "event_id", F.col("valid_from_us").alias("us")
        )
        .unionByName(delta)
    )
    return untouched.unionByName(ranges(rebuilt_points))


@register(
    "approx_percentile_profile",
    None,  # rows-only: Greenwald-Khanna sketch internals are engine-
    # specific, so cross-engine value equality is not a fair oracle; the
    # local gate instead bounds each estimate's RANK ERROR against the
    # exact sorted data (test_approx_percentile_rank_error_bounded).
    doc="Quantile sketch profile: approx_percentile (GK sketch, "
        "mergeable, single pass) of l_extendedprice at p50/p90/p99 per "
        "l_linestatus — the 100 TB replacement for exact percentile_cont "
        "(which needs a per-group sort); exact twin percentile_by_group "
        "carries the hash check for the same shape. One sketch pass, "
        "three scalar output columns (no array output — driver-side "
        "canonicalizers can't hash array cells)",
)
def approx_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx(
        F.col("l_extendedprice").cast("double"),
        [0.5, 0.9, 0.99],
        10_000,
    )
    return li.groupBy("l_linestatus").agg(
        pcts.getItem(0).alias("approx_p50"),
        pcts.getItem(1).alias("approx_p90"),
        pcts.getItem(2).alias("approx_p99"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "zorder_key_2d",
    f"""
    SELECT o_orderkey,
           {_z.morton_key_2d_sql("o_custkey & 65535", "o_orderkey & 65535")}
             AS zkey
    FROM orders
    """,
    doc="Z-order (Morton) clustering key: bit-interleave of two integer "
        "dimensions as a pure int64 column expression (four shift-or-"
        "mask spread rounds per input — functions/zorder.py), the key "
        "io.write_zordered range-partitions and sorts by so parquet "
        "min/max footer stats prune scans on EITHER dimension. The "
        "oracle renders the identical arithmetic in SQL; bit-exact "
        "across engines",
)
def zorder_key_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        _z.morton_key_2d(
            F.col("o_custkey").bitwiseAND(F.lit(65535)),
            F.col("o_orderkey").bitwiseAND(F.lit(65535)),
        ).alias("zkey"),
    )


@register(
    "incremental_join_maintenance",
    """
    SELECT o.o_orderkey, o.o_custkey,
           CASE WHEN c.c_custkey % 37 = 0
                THEN c.c_mktsegment || '_v2'
                ELSE c.c_mktsegment END AS segment,
           round(o.o_totalprice, 2) AS price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="Incremental JOIN maintenance (IVM): a materialized fact-dim "
        "join absorbs BOTH a fact delta (orders after the cutoff) and "
        "dim UPDATES (every 37th customer's segment changes) without "
        "recomputation: dJ = untouched base rows (LEFT ANTI on changed "
        "keys) UNION old facts of changed keys re-joined to the new "
        "dim (SEMI-restricted — delta-sized, not dim-sized) UNION "
        "fact-delta joined to the new dim. The oracle is the FULL "
        "recompute over final state, proving incremental == recompute "
        "exactly — the same contract as scd2_apply_changes/"
        "dedup_incremental_lsh_candidates. At 100 TB the anti/semi "
        "split is the point: maintenance cost scales with "
        "|delta| + |changed-key facts|, never |base join|",
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-06-01").cast("date")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    changed_pred = F.col("c_custkey") % 37 == 0
    seg_new = F.when(
        changed_pred, F.concat(F.col("c_mktsegment"), F.lit("_v2"))
    ).otherwise(F.col("c_mktsegment"))
    b_old = c.select("c_custkey", F.col("c_mktsegment").alias("segment"))
    b_new = c.select("c_custkey", seg_new.alias("segment"))

    a_old = o.filter(F.col("o_orderdate").cast("date") < cutoff)
    a_delta = o.filter(F.col("o_orderdate").cast("date") >= cutoff)

    def j(facts: DataFrame, dim: DataFrame) -> DataFrame:
        return facts.join(
            F.broadcast(dim), facts.o_custkey == dim.c_custkey
        ).select(
            "o_orderkey",
            "o_custkey",
            "segment",
            F.round("o_totalprice", 2).alias("price"),
        )

    base = j(a_old, b_old)  # the "materialized" state before the batch
    changed = F.broadcast(
        c.filter(changed_pred).select(F.col("c_custkey").alias("o_custkey"))
    )
    untouched = base.join(changed, "o_custkey", "left_anti")
    rebuilt = j(
        a_old.join(changed, "o_custkey", "left_semi"),
        b_new.filter(F.col("c_custkey") % 37 == 0),
    )
    fresh = j(a_delta, b_new)
    return untouched.unionByName(rebuilt).unionByName(fresh)


@register(
    "incremental_agg_retractions",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DOUBLE) AS revenue
    FROM orders
    WHERE NOT (o_orderkey % 53 = 0
               AND CAST(o_orderdate AS DATE) < DATE '1995-06-01')
    GROUP BY o_orderpriority
    """,
    doc="Incremental AGGREGATE maintenance with RETRACTIONS: a "
        "materialized groupBy absorbs a delta holding inserts (orders "
        "after the cutoff) and deletes (every 53rd pre-cutoff order is "
        "retracted) by merging SIGNED partials — count +/-1, sum "
        "+/-value — never rescanning the base. This is the algebra "
        "streaming update-mode sinks and CDC-fed rollups run on "
        "(reaggregate_partials covers insert-only merge; retraction "
        "is what makes DELETEs O(delta)). DECIMAL partials keep the "
        "merge exact, so incremental == full recompute to the last "
        "cent — which is exactly what the oracle checks. Groups "
        "whose count reaches 0 are dropped (the retraction-algebra "
        "edge case a naive merge forgets)",
)
def incremental_agg_retractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-06-01").cast("date")
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")

    base = o.filter(F.col("o_orderdate").cast("date") < cutoff)
    inserts = o.filter(F.col("o_orderdate").cast("date") >= cutoff)
    deletes = base.filter(F.col("o_orderkey") % 53 == 0)

    def partials(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            (F.lit(sign) * F.count(F.lit(1))).alias("dn"),
            (F.lit(sign).cast("decimal(18,2)") * F.sum(price))
            .cast("decimal(28,2)")
            .alias("dsum"),
        )

    merged = (
        partials(base, 1)  # the "materialized" state before the batch
        .unionByName(partials(inserts, 1))
        .unionByName(partials(deletes, -1))
        .groupBy("o_orderpriority")
        .agg(F.sum("dn").alias("n"), F.sum("dsum").alias("s"))
        .filter(F.col("n") > 0)
    )
    return merged.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n_orders"),
        F.col("s").cast("double").alias("revenue"),
    )


@register(
    "cdc_apply_latest",
    """
    WITH log AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, value,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op
      FROM events
    ),
    ranked AS (
      SELECT user_id, event_id, us, value, op,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY us DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT user_id, event_id AS last_event_id, op AS last_op,
           CAST(value AS DOUBLE) AS last_value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    doc="CDC changelog apply — the MERGE-from-changelog op that turns a "
        "Debezium-style (key, op, payload) stream into the CURRENT "
        "table snapshot: latest op per key wins (ordered by event time, "
        "id-tiebroken), and a key whose latest op is a DELETE vanishes "
        "from the state entirely — the semantics scd2_apply_changes "
        "(validity ranges, no deletes) does not cover. The changelog is "
        "derived deterministically from events (error=>D, signup=>I, "
        "else U). ONE shuffle on the key; at 100 TB the key is the "
        "natural partition and a rank-1 window beats a self-join "
        "max-timestamp lookup (no second shuffle, no late-tie "
        "ambiguity). Compacting a billion-row changelog to current "
        "state is exactly this plan",
)
def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "value",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("op").alias("last_op"),
            F.col("value").cast("double").alias("last_value"),
        )
    )
