"""Driver-contract query inventory: SURVEY §2 operators phrased over the
TPC-H-ish testdata, each as a (PySpark builder, DuckDB oracle SQL) pair.

Conventions that make the driver's order-insensitive value-hash compare
succeed (see __spark_entry__.py docstring):
* every computed column is aliased identically on both sides;
* money sums go through DECIMAL(18,2) *before* aggregation (exact,
  order-independent) and the result is re-cast to DECIMAL(18,2);
* date grouping keys are explicit CAST(ts AS DATE) on both sides;
* top-k orderings carry a unique tie-break key.

Each builder takes ``(spark, sf_dir)`` and returns a DataFrame; oracle SQL
runs on DuckDB views named after the tables.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_tj_project_spark.functions import cleaning
from etl_tj_project_spark.schemas import AMOUNT
from etl_tj_project_spark.sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Entry:
    spark: QueryFn
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    doc: str = ""


REGISTRY: dict[str, Entry] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Entry(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# =========================================================================
# §2.2 Projections / filters / predicates
# =========================================================================

@register(
    "p1_typed_projection",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_shipdate AS DATE)            AS ship_date,
           CAST(l_quantity AS DECIMAL(18,2))   AS qty,
           upper(l_returnflag)                 AS rflag
    FROM lineitem
    """,
    doc="P1/F13/F14/F1: typed projection with casts+rename "
        "(ref dag_datapelangan.py:69-75)",
)
def p1_typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_quantity").cast(AMOUNT).alias("qty"),
        F.upper("l_returnflag").alias("rflag"),
    )


@register(
    "p2_equality_filter",
    "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders "
    "WHERE o_orderstatus = 'F'",
    doc="P2: equality filter (ref dag_datapelangan.py:177)",
)
def p2_equality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


@register(
    "p3_date_partition_filter",
    "SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date "
    "FROM lineitem WHERE CAST(l_shipdate AS DATE) = DATE '1996-06-15'",
    doc="P3: single-day filter → partition pruning on a date-partitioned "
        "lake (ref dag_datapelangan.py:177,184)",
)
def p3_date_partition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").cast("date") == F.lit("1996-06-15").cast("date")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


@register(
    "p4_null_rejection",
    "SELECT p_partkey, nullif(trim(p_type), '') AS p_type_clean FROM part "
    "WHERE nullif(trim(p_type), '') IS NOT NULL",
    doc="P4+F7+F8: trim / NULLIF('') / NULL-rejection before dim upsert "
        "(ref stage_csv_dims_to_pg.py:128,134,137)",
)
def p4_null_rejection(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    clean = cleaning.nullif_empty(F.trim(F.col("p_type")))
    return part.select("p_partkey", clean.alias("p_type_clean")).filter(
        F.col("p_type_clean").isNotNull()
    )


@register(
    "p5_conjunctive_predicate",
    "SELECT l_orderkey, l_linenumber FROM lineitem "
    "WHERE upper(l_returnflag) = 'R' "
    "AND CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'",
    doc="P5: UPPER(col)=lit AND date predicate (ref dag_datapelangan.py:94-96)",
)
def p5_conjunctive_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    return li.filter(
        (F.upper("l_returnflag") == "R")
        & d.between(F.lit("1996-01-01").cast("date"), F.lit("1996-12-31").cast("date"))
    ).select("l_orderkey", "l_linenumber")


# =========================================================================
# §2.8 UDF surface (as native expressions)
# =========================================================================

@register(
    "ud1_norm_body",
    f"SELECT p_partkey, {cleaning.norm_body_sql('p_brand')} AS body_norm FROM part",
    doc="UD1 norm_body as a pure Column expression "
        "(ref dag_datapelangan.py:46-56); 'Brand#13' → 'BRA-013'",
)
def ud1_norm_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select(
        "p_partkey", cleaning.norm_body(F.col("p_brand")).alias("body_norm")
    )


_UD2_CASE = (
    "CASE WHEN event_type = 'click' THEN 'Y' "
    "WHEN event_type = 'view' THEN 'FALSE' "
    "WHEN event_type = 'purchase' THEN '1' "
    "WHEN event_type = 'signup' THEN '' "
    "ELSE 'junk' END"
)


@register(
    "ud2_to_bool_safe",
    f"SELECT event_id, {cleaning.to_bool_safe_sql(_UD2_CASE)} AS gate_in_boo "
    "FROM events",
    doc="UD2 to_bool_safe: Y/FALSE/1/''/junk → true/false/NULL, never "
        "raising (ref dag_datapelangan.py:58-66)",
)
def ud2_to_bool_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    flag = (
        F.when(F.col("event_type") == "click", "Y")
        .when(F.col("event_type") == "view", "FALSE")
        .when(F.col("event_type") == "purchase", "1")
        .when(F.col("event_type") == "signup", "")
        .otherwise("junk")
    )
    return ev.select(
        "event_id", cleaning.to_bool_safe(flag).alias("gate_in_boo")
    )


@register(
    "f_scalar_pack",
    """
    SELECT o_orderkey,
           upper(o_orderpriority)                                  AS pr_upper,
           trim(o_orderpriority)                                   AS pr_trim,
           lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0')        AS key_pad,
           upper(substr(o_orderpriority, 3)) || '-' ||
             lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0')      AS composed,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN')            AS status_or_open,
           CASE WHEN regexp_matches(o_orderpriority, '^[1-2]-')
                THEN 'hot' ELSE 'cold' END                         AS heat,
           strftime(o_orderdate, '%Y%m%d')                         AS day_key
    FROM orders
    """,
    doc="F1-F10, F16 scalar pack: upper/trim/lpad/concat/coalesce/nullif/"
        "CASE/regex-match/date_format (ref SURVEY §2.7)",
)
def f_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    key_pad = F.lpad((F.col("o_orderkey") % 1000).cast("string"), 3, "0")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("pr_upper"),
        F.trim(F.col("o_orderpriority")).alias("pr_trim"),
        key_pad.alias("key_pad"),
        F.concat(
            F.upper(F.col("o_orderpriority").substr(F.lit(3), F.length("o_orderpriority"))),
            F.lit("-"),
            key_pad,
        ).alias("composed"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
        F.when(F.col("o_orderpriority").rlike(r"^[1-2]-"), "hot")
        .otherwise("cold")
        .alias("heat"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("day_key"),
    )


# =========================================================================
# §2.3 Joins
# =========================================================================

@register(
    "j1_inner_join_fanout",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) AS amount
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
    doc="J1: inner fact→dim join, fan-out semantics, broadcast dim "
        "(ref dag_datapelangan.py:210)",
)
def j1_inner_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return li.join(
        F.broadcast(part), part["p_partkey"] == li["l_partkey"], "inner"
    ).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        F.col("l_extendedprice").cast(AMOUNT).alias("amount"),
    )


@register(
    "j2_left_join_code_to_name",
    """
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="J2: left outer code→name join, unmatched keys keep NULL name "
        "(ref dag_datapelangan.py:211)",
)
def j2_left_join_code_to_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), c["c_custkey"] == o["o_custkey"], "left").select(
        "o_orderkey", "c_name", "c_mktsegment"
    )


@register(
    "j4_cast_key_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, s.s_name
    FROM lineitem l
    LEFT JOIN supplier s ON CAST(s.s_suppkey AS VARCHAR) = CAST(l.l_suppkey AS VARCHAR)
    """,
    doc="J4: left join with int-cast-to-text key "
        "(ref dag_datapelangan.py:221)",
)
def j4_cast_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return li.join(
        F.broadcast(s),
        s["s_suppkey"].cast("string") == li["l_suppkey"].cast("string"),
        "left",
    ).select("l_orderkey", "l_linenumber", "s_name")


# =========================================================================
# §2.4 Set operations
# =========================================================================

@register(
    "u1_union_all",
    """
    SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, event_type, value FROM events WHERE event_type = 'view'
    """,
    doc="U1: schema-aligned bag union (ref dag_datapelangan.py:192-195)",
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    return clicks.unionByName(views)


# =========================================================================
# §2.5 Aggregations
# =========================================================================

@register(
    "a1_agg_by_card",
    """
    SELECT CAST(ts AS DATE) AS tanggal, event_type,
           COUNT(*) AS pelanggan_count,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS amount_sum
    FROM (
      SELECT ts, event_type, value FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT ts, event_type, value FROM events WHERE event_type = 'purchase'
    ) x
    GROUP BY CAST(ts AS DATE), event_type
    """,
    doc="A1 agg_by_card analog: filter → union → groupBy count+sum "
        "(ref dag_datapelangan.py:188-198)",
)
def a1_agg_by_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    unioned = ev.filter(F.col("event_type") == "click").unionByName(
        ev.filter(F.col("event_type") == "purchase")
    )
    return (
        unioned.select(
            F.col("ts").cast("date").alias("tanggal"),
            "event_type",
            F.col("value").cast(AMOUNT).alias("amount"),
        )
        .groupBy("tanggal", "event_type")
        .agg(
            F.count(F.lit(1)).alias("pelanggan_count"),
            F.sum("amount").cast(AMOUNT).alias("amount_sum"),
        )
    )


@register(
    "a2_agg_nullable_group_keys",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS pelanggan_count,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
             AS amount_sum
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 1000) c
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="A2: group by nullable key from a left join — NULL group retained "
        "(ref dag_datapelangan.py:200-225)",
)
def a2_agg_nullable_group_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 1000)
    return (
        o.join(F.broadcast(c), c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("pelanggan_count"),
            F.sum(F.col("o_totalprice").cast(AMOUNT)).cast(AMOUNT).alias("amount_sum"),
        )
    )


@register(
    "a3_agg_by_tariff",
    """
    SELECT CAST(l_quantity AS DECIMAL(18,2)) AS tarif, l_linestatus,
           COUNT(*) AS pelanggan_count
    FROM lineitem
    GROUP BY CAST(l_quantity AS DECIMAL(18,2)), l_linestatus
    """,
    doc="A3 agg_by_tariff analog: the measure itself as grouping key "
        "(ref dag_datapelangan.py:227-234)",
)
def a3_agg_by_tariff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_quantity").cast(AMOUNT).alias("tarif"), "l_linestatus")
        .groupBy("tarif", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("pelanggan_count"))
    )


@register(
    "a4_count_probe",
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE upper(l_returnflag) = 'R' "
    "AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'",
    doc="A4: scalar count probe (ref dag_datapelangan.py:93-104,236-239)",
)
def a4_count_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.upper("l_returnflag") == "R")
            & (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "u2_two_branch_union_agg",
    """
    SELECT tanggal, route_code, gate, COUNT(*) AS pelanggan_count,
           CAST(SUM(amount) AS DECIMAL(18,2)) AS amount_sum
    FROM (
      SELECT CAST(l.l_shipdate AS DATE) AS tanggal, p.p_brand AS route_code,
             l.l_linestatus AS gate,
             CAST(l.l_extendedprice AS DECIMAL(18,2)) AS amount
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      UNION ALL
      SELECT CAST(l.l_shipdate AS DATE) AS tanggal, s.s_name AS route_code,
             l.l_linestatus AS gate,
             CAST(l.l_extendedprice AS DECIMAL(18,2)) AS amount
      FROM lineitem l
      LEFT JOIN supplier s ON CAST(s.s_suppkey AS VARCHAR) = CAST(l.l_suppkey AS VARCHAR)
    ) y
    GROUP BY tanggal, route_code, gate
    """,
    doc="U2+A2 flagship: two differently-joined branches unioned then "
        "aggregated — the agg_by_route pipeline shape "
        "(ref dag_datapelangan.py:200-225)",
)
def u2_two_branch_union_agg(
    spark: SparkSession, sf_dir: str, single_scan: bool = False
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    return u2_plan(li, li, part, sup, single_scan=single_scan)


def u2_plan(
    li1: DataFrame,
    li2: DataFrame,
    part: DataFrame,
    sup: DataFrame,
    single_scan: bool = False,
) -> DataFrame:
    """The flagship two-branch plan over caller-supplied frames.

    ``li1``/``li2`` are the branch-1/branch-2 fact frames — identical in
    the registry entry; the cold-IO strain passes two distinct physical
    copies so the default plan's two scans each pay cold storage IO the
    way they would against a remote object store (a single copy would
    let branch 2 ride branch 1's page-cache warmup, hiding exactly the
    cost the single-scan variant removes). ``single_scan`` ignores
    ``li2``.
    """
    li = li1
    tanggal = F.col("l_shipdate").cast("date").alias("tanggal")
    amount = F.col("l_extendedprice").cast(AMOUNT).alias("amount")
    if single_scan:
        # Cold-IO plan (VERDICT r8 item 4, promoted from the round-8
        # A/B recorded in SCALE.md "u2 flagship scan-sharing A/Bs",
        # then IMPROVED in round 9): "union of two aggregates over the
        # same fact" is exactly what GROUPING SETS computes in one pass
        # — Spark's Expand operator duplicates each joined row once per
        # set (a codegen'd projection, no array allocation, unlike the
        # round-8 explode rewrite, which a three-way A/B beat: warm
        # sf0.1 gsets 2.11 s vs explode 2.32 s). One lineitem scan
        # left-joins BOTH broadcast dims; part carries an explicit hit
        # flag so branch 1's inner-join semantics survive the left
        # join: in set A the flag is a GROUP KEY, so the unmatched
        # (NULL,NULL) group is sliced off exactly by the post-agg
        # filter, and set B keeps every row like the default plan's
        # left supplier join. grouping() disambiguates branch rows, so
        # branch 2's legitimately-NULL s_name groups survive. Reads 5
        # fact columns once instead of 4+4 (~40% less fact IO) — still
        # loses at page-cache-resident sf0.1 where the second scan is
        # nearly free, but wins when the scan is IO-bound; equality vs
        # the default plan is pinned by tests/test_scale_plans.py and
        # the cold-storage A/B (two distinct physical copies + fadvise
        # eviction + optional read-throttling) is measured per-round by
        # strain.run_u2_cold_io_strain.
        # ASSUMES (ADVICE r9 — all three required for equivalence to
        # the default two-branch plan, all PK/domain facts of this
        # schema; use the default plan when any fails):
        # (1) p_partkey is unique (part's PK): a duplicate-key part
        #     side would fan the fused row out and duplicate branch-2
        #     contributions;
        # (2) s_suppkey is unique (supplier's PK): in the FUSED plan a
        #     duplicate supplier fans out branch-1 (part) contributions
        #     too — rows that never even join supplier in the default
        #     plan;
        # (3) p_brand and s_name value domains are DISJOINT ('Brand#xx'
        #     vs 'Supplier#xxx' here): the default plan groups AFTER
        #     the union, merging any cross-branch groups that share
        #     (tanggal, route_code, gate), while grouping sets emits
        #     two separate rows for them. The smoke-scale equality test
        #     (tests/test_scale_plans.py) holds only because this
        #     schema satisfies all three.
        hit_part = F.broadcast(
            part.select("p_partkey", "p_brand", F.lit(True).alias("p_hit"))
        )
        joined = (
            li.join(hit_part, hit_part["p_partkey"] == li["l_partkey"], "left")
            .join(
                F.broadcast(sup),
                sup["s_suppkey"].cast("string") == li["l_suppkey"].cast("string"),
                "left",
            )
            .select(
                tanggal,
                F.col("l_linestatus").alias("gate"),
                amount,
                "p_hit",
                "p_brand",
                "s_name",
            )
        )
        g = joined.groupingSets(
            [
                ["tanggal", "gate", "p_hit", "p_brand"],
                ["tanggal", "gate", "s_name"],
            ],
            "tanggal",
            "gate",
            "p_hit",
            "p_brand",
            "s_name",
        ).agg(
            F.count(F.lit(1)).alias("pelanggan_count"),
            F.sum("amount").cast(AMOUNT).alias("amount_sum"),
            F.grouping("s_name").alias("g_s"),
            F.grouping("p_brand").alias("g_p"),
        )
        return g.filter(
            ((F.col("g_s") == 1) & (F.col("p_hit") == F.lit(True)))
            | (F.col("g_p") == 1)
        ).select(
            "tanggal",
            F.when(F.col("g_s") == 1, F.col("p_brand"))
            .otherwise(F.col("s_name"))
            .alias("route_code"),
            "gate",
            "pelanggan_count",
            "amount_sum",
        )
    branch1 = li.join(
        F.broadcast(part), part["p_partkey"] == li["l_partkey"], "inner"
    ).select(
        tanggal,
        F.col("p_brand").alias("route_code"),
        F.col("l_linestatus").alias("gate"),
        amount,
    )
    branch2 = li2.join(
        F.broadcast(sup),
        sup["s_suppkey"].cast("string") == li2["l_suppkey"].cast("string"),
        "left",
    ).select(
        tanggal,
        F.col("s_name").alias("route_code"),
        F.col("l_linestatus").alias("gate"),
        amount,
    )
    return (
        branch1.unionByName(branch2)
        .groupBy("tanggal", "route_code", "gate")
        .agg(
            F.count(F.lit(1)).alias("pelanggan_count"),
            F.sum("amount").cast(AMOUNT).alias("amount_sum"),
        )
    )


# =========================================================================
# §2.6 (north star) Windows / sort-limit / distinct / rollup
# =========================================================================

@register(
    "w1_topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn <= 3
    """,
    doc="Window top-k per group with deterministic tie-break",
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "w2_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,2)) AS running_spend
    FROM orders
    """,
    doc="Running decimal sum per key (exact, order-pinned frame)",
)
def w2_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(AMOUNT))
        .over(w)
        .cast(AMOUNT)
        .alias("running_spend"),
    )


@register(
    "sort_limit_topk",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    doc="Global top-k (TakeOrderedAndProject — no full sort at scale)",
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


@register(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT (hash-aggregate dedup)",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@register(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty_sum
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="ROLLUP multi-level aggregate (north-star; grouping-set semantics)",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast(AMOUNT)).cast(AMOUNT).alias("qty_sum"),
    )


@register(
    "partitioned_write_roundtrip",
    """
    SELECT CAST(ts AS DATE) AS tanggal, event_id,
           CAST(value AS DECIMAL(18,2)) AS amount
    FROM events WHERE event_type = 'purchase' AND event_id < 10000
    """,
    doc="S4/S7 write path under the correctness gate: day-partitioned "
        "parquet write (Hive tanggal= layout, dynamic-overwrite-capable "
        "writer from io.py) followed by a read-back — the oracle states "
        "the content that must survive the roundtrip bit-exactly "
        "(partition-column date inference included). Uses a fresh temp "
        "dir per call so re-runs are independent "
        "(ref dag_datapelangan.py:118-151 daily partition DDL). The "
        "staged frame is capped by a deterministic key cut "
        "(event_id < 10000 — the full table at the sf0.01 gate scale, "
        "so recorded hashes are unchanged) so the driver-side "
        "materialization below is O(1) BY CONSTRUCTION at any SF the "
        "gate ever runs, not merely by current fixture sizes "
        "(VERDICT r10 item 2)",
)
def partitioned_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from etl_tj_project_spark.io import write_partitioned

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") < 10000)
    )
    df = ev.select(
        F.col("ts").cast("date").alias("tanggal"),
        "event_id",
        F.col("value").cast(AMOUNT).alias("amount"),
    )
    out = tempfile.mkdtemp(prefix="tj_roundtrip_")
    try:
        write_partitioned(df, out, partition_col="tanggal")
        back = spark.read.parquet(out).select("tanggal", "event_id", "amount")
        # Materialize the read-back so the temp directory can be deleted
        # NOW instead of leaking a parquet copy per invocation (the driver
        # and parity tests call every registered query repeatedly). The
        # roundtrip result is day-aggregate-sized, not fact-sized, so a
        # driver-side materialization is safe here — and the point of the
        # query is the write/read path, which has already run in full.
        return spark.createDataFrame(back.collect(), schema=back.schema)
    finally:
        import shutil

        shutil.rmtree(out, ignore_errors=True)


@register(
    "orc_write_roundtrip",
    """
    SELECT doc_id, source, n_chars,
           CAST(n_chars AS DECIMAL(18,2)) AS n_chars_dec,
           DATE '2024-01-01' + CAST(doc_id % 7 AS INT) AS shard_date,
           text AS text2, lang
    FROM documents WHERE doc_id < 500
    """,
    doc="ORC format coverage under the correctness gate: documents are "
        "written as lang-partitioned ORC (Spark's built-in columnar "
        "sibling to parquet — a user switching warehouses keeps the "
        "same writer API) carrying an array<string> column "
        "(split(text,' ')), a DECIMAL(18,2), and a computed DATE; the "
        "read-back reassembles the array with array_join, and the "
        "oracle states that the reassembly must equal the ORIGINAL "
        "text bit-exactly (single-char split/join is an identity), so "
        "the hash check proves array, decimal, date, and "
        "partition-column fidelity through the ORC writer+reader",
)
def orc_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    # doc_id < 500 = the full table at the sf0.01 gate scale (hashes
    # unchanged), and a constant-size cap on the driver materialization
    # at any larger SF (VERDICT r10 item 2).
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    staged = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("n_chars").cast(AMOUNT).alias("n_chars_dec"),
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.col("doc_id") % 7).cast("int"),
        ).alias("shard_date"),
        F.split("text", " ").alias("words"),
        "lang",
    )
    out = tempfile.mkdtemp(prefix="tj_orc_roundtrip_")
    try:
        staged.write.mode("overwrite").partitionBy("lang").orc(out)
        back = spark.read.orc(out).select(
            "doc_id",
            "source",
            "n_chars",
            "n_chars_dec",
            "shard_date",
            F.array_join("words", " ").alias("text2"),
            # Partition column comes back via directory inference.
            F.col("lang").cast("string").alias("lang"),
        )
        # Materialize so the temp dir can be removed now (same pattern
        # as partitioned_write_roundtrip; documents is the small table).
        return spark.createDataFrame(back.collect(), schema=back.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "csv_write_roundtrip",
    """
    SELECT doc_id,
           concat('q,"', source, '",x') AS tricky,
           CASE WHEN lang = 'en' THEN NULL ELSE lang END AS maybe_null,
           CAST(n_chars AS DECIMAL(18,2)) AS n_chars_dec,
           DATE '2024-01-01' + CAST(doc_id % 7 AS INT) AS shard_date
    FROM documents WHERE doc_id < 500
    """,
    doc="CSV export/import fidelity under the correctness gate — the "
        "third leg of the format matrix (parquet: "
        "partitioned_write_roundtrip; ORC: orc_write_roundtrip). The "
        "staged frame deliberately carries the CSV hazard classes: a "
        "string containing commas AND embedded double quotes (forcing "
        "the writer's quote-doubling path), a nullable string column "
        "(NULL rides the default empty nullValue and must come back "
        "NULL, not ''), a DECIMAL(18,2) and a DATE that must survive "
        "text serialization exactly under an explicit read schema. The "
        "oracle restates the staged values closed-form, so the hash "
        "gate proves quoting, NULL, decimal, and date fidelity through "
        "the writer+reader pair. Embedded newlines are the documented "
        "scope cut: they require the multiLine reader, which "
        "single-pass splitting cannot parallelize per-file at 100 TB — "
        "a pipeline that needs them should use parquet, not CSV",
)
def csv_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    # doc_id < 500: constant-size driver materialization at any SF
    # (full table at the sf0.01 gate; VERDICT r10 item 2).
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    staged = d.select(
        "doc_id",
        F.concat(F.lit('q,"'), F.col("source"), F.lit('",x')).alias(
            "tricky"
        ),
        F.nullif(F.col("lang"), F.lit("en")).alias("maybe_null"),
        F.col("n_chars").cast(AMOUNT).alias("n_chars_dec"),
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.col("doc_id") % 7).cast("int"),
        ).alias("shard_date"),
    )
    out = tempfile.mkdtemp(prefix="tj_csv_roundtrip_")
    try:
        staged.write.mode("overwrite").option("header", True).csv(out)
        back = spark.read.schema(staged.schema).option("header", True).csv(
            out
        )
        # Materialize so the temp dir can be removed now (documents is
        # the small table; same pattern as the parquet/ORC roundtrips).
        return spark.createDataFrame(back.collect(), schema=back.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "jsonl_write_roundtrip",
    """
    SELECT doc_id,
           'he said "hi" \\' || source || chr(10) || lang AS hazard,
           CASE WHEN lang = 'en' THEN NULL ELSE lang END AS maybe_null,
           CAST(n_chars AS DECIMAL(18,2)) AS n_chars_dec,
           DATE '2024-01-01' + CAST(doc_id % 7 AS INT) AS shard_date,
           source AS meta_s, n_chars AS meta_n
    FROM documents WHERE doc_id < 500
    """,
    doc="JSONL export/import fidelity — the fourth leg of the format "
        "matrix (parquet / ORC / CSV / JSONL), and the interchange "
        "format the corpus pipeline ingests (sources/jsonl). The "
        "staged frame carries the JSON hazard classes: a string with "
        "embedded double quotes, a literal backslash AND an embedded "
        "NEWLINE — the exact hazard the CSV leg documents as its scope "
        "cut. JSON escapes them in-value (\\n, \\\", \\\\), so every "
        "record stays ONE physical line and a 100 TB export remains "
        "line-splittable per file; NULL fields ride the writer's "
        "drop-null-keys default and must come back NULL; DECIMAL(18,2) "
        "and DATE survive text serialization under an explicit read "
        "schema; a nested STRUCT column proves schema-on-read "
        "round-trips compound types (projected to scalars for the "
        "hash gate). Oracle restates the staged values closed-form",
)
def jsonl_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    # doc_id < 500: constant-size driver materialization at any SF
    # (full table at the sf0.01 gate; VERDICT r10 item 2).
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    staged = d.select(
        "doc_id",
        F.concat(
            F.lit('he said "hi" \\'),
            F.col("source"),
            F.lit("\n"),
            F.col("lang"),
        ).alias("hazard"),
        F.nullif(F.col("lang"), F.lit("en")).alias("maybe_null"),
        F.col("n_chars").cast(AMOUNT).alias("n_chars_dec"),
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.col("doc_id") % 7).cast("int"),
        ).alias("shard_date"),
        F.struct(
            F.col("source").alias("s"), F.col("n_chars").alias("n")
        ).alias("meta"),
    )
    out = tempfile.mkdtemp(prefix="tj_jsonl_roundtrip_")
    try:
        staged.write.mode("overwrite").json(out)
        back = spark.read.schema(staged.schema).json(out)
        flat = back.select(
            "doc_id",
            "hazard",
            "maybe_null",
            "n_chars_dec",
            "shard_date",
            F.col("meta.s").alias("meta_s"),
            F.col("meta.n").alias("meta_n"),
        )
        # Materialize so the temp dir can be removed now (documents is
        # the small table; same pattern as the parquet/ORC roundtrips).
        return spark.createDataFrame(flat.collect(), schema=flat.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_snapshot_roundtrip",
    """
    SELECT CAST(ts AS DATE) AS tanggal, event_type,
           COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2)))
             AS DECIMAL(18,2)) AS value_sum
    FROM events WHERE event_type IN ('click', 'purchase')
      AND event_id < 10000
    GROUP BY CAST(ts AS DATE), event_type
    """,
    doc="Snapshot-manifest table format (manifest.py) under the "
        "correctness gate: a daily aggregate is committed through "
        "manifest.commit (immutable snapshot dir + atomic pointer swap) "
        "and read back through manifest.read_table; the oracle states "
        "the content that must survive the commit→read roundtrip "
        "bit-exactly. The lake-native twin of the reference's "
        "single-transaction aggregate publish "
        "(dag_datapelangan.py:172-244)",
)
def manifest_snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from etl_tj_project_spark import manifest as mf

    # event_id < 10000 = the full table at the sf0.01 gate scale
    # (hashes unchanged); caps the day-aggregate AND the staged scan at
    # any larger SF so the driver collect is O(1) by construction
    # (VERDICT r10 item 2).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & (F.col("event_id") < 10000)
    )
    agg = ev.groupBy(
        F.col("ts").cast("date").alias("tanggal"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(AMOUNT)).cast(AMOUNT).alias("value_sum"),
    )
    root = tempfile.mkdtemp(prefix="tj_manifest_")
    try:
        mf.commit(root, {"daily_agg": agg})
        back = mf.read_table(spark, root, "daily_agg")
        # Materialize before deleting the snapshot dir (same pattern as
        # partitioned_write_roundtrip: result is aggregate-sized).
        return spark.createDataFrame(back.collect(), schema=back.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# =========================================================================
# Training-data-pipeline extensions: text analysis over `documents`
# =========================================================================

from etl_tj_project_spark.functions import text as tx  # noqa: E402


@register(
    "text_token_count",
    f"""
    SELECT doc_id, {tx.token_count_sql('text')} AS n_ws_tokens,
           {tx.bpe_ish_token_count_sql('text')} AS n_bpe_tokens
    FROM documents
    """,
    doc="Token counting: whitespace + BPE-ish regex fragmenter",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count("text").alias("n_ws_tokens"),
        tx.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


_QM_SQL = tx.quality_metrics_sql("text")


@register(
    "text_quality",
    "SELECT doc_id, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _QM_SQL.items())
    + " FROM documents",
    doc="Per-document quality signals (lengths, punct/alpha/stopword "
        "ratios) as exact-arithmetic expressions",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    metrics = tx.quality_metrics("text")
    return d.select("doc_id", *[c.alias(n) for n, c in metrics.items()])


@register(
    "text_lang_id",
    f"SELECT doc_id, lang, {tx.lang_id_sql('text')} AS lang_pred FROM documents",
    doc="Marker-token language-ID heuristic with deterministic tie-break",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", tx.lang_id("text").alias("lang_pred"))


@register(
    "text_fingerprint",
    f"SELECT doc_id, {tx.doc_fingerprint_sql('text')} AS fp FROM documents",
    doc="Canonical-form md5 document fingerprint",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.doc_fingerprint("text").alias("fp"))


# =========================================================================
# Deduplication family
# =========================================================================

from etl_tj_project_spark.operators import dedup as dd  # noqa: E402


@register(
    "dedup_exact",
    f"""
    SELECT {tx.doc_fingerprint_sql('text')} AS fp, min(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup: normalized-text fingerprint groupBy, min-id winner",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.exact_duplicate_groups(d, "text", "doc_id")


_LSH_BANDS_SQL = dd.minhash_bands_sql(
    "documents", "doc_id", "text", num_hashes=8, bands=4
)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH b AS ({_LSH_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM b a JOIN b c ON a.band = c.band AND a.h = c.h AND a.doc_id < c.doc_id
    """,
    doc="MinHash(8 md5 hashes) + LSH(4 bands): candidate near-dup pairs "
        "via band-bucket self-join",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.lsh_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=4)


@register(
    "dedup_connected_components",
    f"""
    WITH RECURSIVE b AS (SELECT * FROM ({_LSH_BANDS_SQL}) raw_bands),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM b a JOIN b c ON a.band = c.band AND a.h = c.h
                       AND a.doc_id < c.doc_id
    ),
    sym AS (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION
      SELECT doc_b AS n, doc_a AS m FROM pairs
    ),
    walk(n, r) AS (
      SELECT n, m FROM sym
      UNION
      SELECT w.n, s.m FROM walk w JOIN sym s ON s.n = w.r
    )
    SELECT n AS node, least(n, MIN(r)) AS component_id
    FROM walk GROUP BY n
    """,
    doc="Connected components over the LSH candidate graph: cluster id = "
        "min reachable doc_id. Size-dispatched (SCALE.md §16/§22): "
        "graphs within the single-task memory budget (16M sym edges) "
        "run as ONE executor-side numpy pointer-jumping task; larger "
        "graphs run iterative pointer-doubling min-label propagation, "
        "O(log diameter) rounds — the iterative-algorithm surface, "
        "strategy-equality tested. Oracle: recursive-CTE transitive "
        "closure — exponential state both strategies avoid, fine at "
        "oracle scale, unusable at 100 TB",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.lsh_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=4)
    labels = dd.connected_components(pairs, "doc_a", "doc_b")
    # Materialize EXECUTOR-SIDE (parquet write) so the convergence
    # checkpoint's blocks are released before return — the exact move a
    # production 100 TB caller makes (write the labels out, then
    # release_components), with no driver-side collect of a corpus-
    # sized frame anywhere (VERDICT r7 item 4). The mkdtemp-per-call /
    # atexit-deferred-cleanup machinery (ADVICE r8, VERDICT r13 item
    # 1b) now lives in dd.materialize_labels, shared with every other
    # label-composing entry. This entry deliberately keeps the
    # CANDIDATE-PAIR graph as CC input (its measured identity since r2);
    # connectivity-only consumers use dd.lsh_star_edges instead
    # (SCALE.md §28).
    return dd.materialize_labels(labels)


@register(
    "dedup_simhash",
    f"SELECT doc_id, {dd.simhash_sql('text', bits=16)} AS simhash16 FROM documents",
    doc="16-bit SimHash fingerprint from per-token md5 bit votes",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", dd.simhash("text", bits=16).alias("simhash16"))


@register(
    "dedup_ngram_jaccard",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                   i -> array_to_string(toks[i:i+2], ' ')) END)
               AS sh
      FROM t
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CASE WHEN CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)
           END AS jaccard
    FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
    """,
    doc="Word-3-gram Jaccard similarity over consecutive-id pairs "
        "(the LSH candidates feed this in a real dedup run)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.jaccard_pairs(d, "doc_id", "text", ngram=3)


# =========================================================================
# Similarity search over embeddings
# =========================================================================

from etl_tj_project_spark.operators import similarity as sim  # noqa: E402


@register(
    "ann_brute_force_topk",
    "SELECT vec_id, round(cosine, 9) AS cosine FROM ("
    + sim.brute_force_topk_sql("embeddings", query_id=0, k=10)
    + ") t",
    doc="Exact cosine top-10 vs a query vector: broadcast + "
        "TakeOrderedAndProject (no global sort)",
)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    top = sim.brute_force_topk(e, q, k=10)
    return top.select("vec_id", F.round("cosine", 9).alias("cosine"))


@register(
    "ann_lsh_bucketed_topk",
    "SELECT vec_id, round(cosine, 9) AS cosine FROM ("
    + sim.lsh_topk_sql("embeddings", query_id=0, k=10)
    + ") t",
    doc="Approximate top-10: random-hyperplane LSH bucket probe, exact "
        "ranking inside the bucket",
)
def ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    top = sim.lsh_topk(e, q, k=10)
    return top.select("vec_id", F.round("cosine", 9).alias("cosine"))


@register(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({sim._dot_sql('a.embedding', 'b.embedding')}
             / (sqrt({sim._dot_sql('a.embedding', 'a.embedding')})
                * sqrt({sim._dot_sql('b.embedding', 'b.embedding')})), 9)
             AS cosine
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
    doc="Embedding-cosine near-dup scoring over candidate pairs",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pairs = dd.embedding_near_dup_pairs(e, "vec_id", "embedding")
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 9).alias("cosine")
    )


# =========================================================================
# Multimodal plumbing + streaming-shaped aggregates
# =========================================================================

from etl_tj_project_spark.operators import multimodal as mm  # noqa: E402
from etl_tj_project_spark.streaming.daily_stream import windowed_event_agg  # noqa: E402


@register(
    "multimodal_decode",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           upper(hex(encode(substr(text, 1, 4)))) AS header_hex,
           CAST(list_sum(list_transform(range(1, length(text) + 1),
                i -> unicode(substr(text, i, 1)))) AS DOUBLE)
             / length(text) AS brightness
    FROM documents
    """,
    doc="Opaque-binary media column + Arrow-batched mapInPandas decode "
        "stage (deterministic stub decode; real codec gated on PIL)",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return mm.decode_features(mm.attach_fake_media(d))


@register(
    "multimodal_resize",
    """
    WITH dims AS (
      SELECT doc_id, text,
             octet_length(encode(text))            AS w,
             1 + (doc_id % 97)                     AS h
      FROM documents
    ), scaled AS (
      SELECT doc_id, text, w, h, greatest(w, h) AS long_side,
             greatest(CASE WHEN greatest(w, h) > 64
                           THEN (w * 64) // greatest(greatest(w, h), 1)
                           ELSE w END, 1) AS tw,
             greatest(CASE WHEN greatest(w, h) > 64
                           THEN (h * 64) // greatest(greatest(w, h), 1)
                           ELSE h END, 1) AS th
      FROM dims
    )
    SELECT doc_id,
           CAST(tw AS INTEGER) AS thumb_w,
           CAST(th AS INTEGER) AS thumb_h,
           CAST(tw * th AS BIGINT) AS thumb_len,
           CASE WHEN length(text) > 0
                THEN upper(hex(encode(substr(text, 1, 4)))) END AS thumb_header
    FROM scaled
    """,
    doc="Thumbnail resize stage: Arrow-batched mapInPandas, aspect-"
        "preserving integer clamp of the LONGER side to 64px, no "
        "upscale (fake media varies height by doc_id so portrait and "
        "landscape are both oracle-exercised). Oracle states the same "
        "integer arithmetic in SQL",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return mm.resize_thumbnail(mm.attach_fake_media(d), max_side=64)


@register(
    "multimodal_frame_sample",
    """
    WITH ts AS (
      SELECT doc_id, text,
             unnest(range(0, octet_length(encode(text)), 50)) AS ts_ms
      FROM documents
    )
    SELECT doc_id,
           CAST(ts_ms // 50 AS BIGINT) AS frame_idx,
           CAST(ts_ms AS BIGINT) AS ts_ms,
           upper(hex(encode(substr(text, CAST(ts_ms AS INTEGER) + 1, 16))))
             AS frame_hex
    FROM ts
    """,
    doc="Video frame sampling: mapInPandas fan-out — one row per 50 ms "
        "frame (stub: 1 byte = 1 ms, frame = 16-byte slice at the "
        "timestamp; a real codec swaps the slice for seek+decode with "
        "the same schema). The frame explode happens INSIDE the Arrow "
        "batch, so the blob crosses the Python boundary once per video, "
        "not once per frame",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return mm.sample_frames(mm.attach_fake_media(d), every_ms=50, frame_bytes=16)


@register(
    "multimodal_audio_features",
    """
    WITH f AS (
      SELECT doc_id, 100 + doc_id % 157 AS n FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n), i -> (doc_id*7 + i*13) % 256 - 128)
               AS smp
      FROM f
    )
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(8 AS INTEGER) AS bits,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
           CAST(list_sum(list_transform(smp, x -> x*x)) AS BIGINT) AS energy
    FROM s
    """,
    doc="REAL audio decode path: deterministic PCM synthesized into "
        "actual RIFF/WAV bytes and parsed back by the stdlib "
        "operators/miniwav.py codec (chunk walk + fmt validation + "
        "sample extraction) inside an Arrow-batched mapInPandas stage — "
        "the audio twin of the minipng real-image branch, no optional "
        "deps. Stats are integer-exact (centered peak, energy = sum of "
        "squared centered samples) so the oracle can restate the "
        "synthesis closed-form in SQL while Spark's numbers still came "
        "through a genuine encode→parse round trip",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return mm.audio_features(mm.attach_fake_audio(d))


@register(
    "multimodal_audio_downsample",
    """
    WITH f AS (
      SELECT doc_id, 100 + doc_id % 157 AS n FROM documents
    ), s AS (
      SELECT doc_id, n // 2 AS n2,
             list_transform(range(0, n // 2),
               k -> ((doc_id*7 + (2*k)*13) % 256
                     + (doc_id*7 + (2*k+1)*13) % 256) // 2 - 128) AS smp
      FROM f
    )
    SELECT doc_id,
           CAST(4000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(8 AS INTEGER) AS bits,
           CAST(n2 AS BIGINT) AS n_frames,
           CAST(n2 * 1000 // 4000 AS BIGINT) AS duration_ms,
           CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
           CAST(list_sum(list_transform(smp, x -> x*x)) AS BIGINT) AS energy
    FROM s
    """,
    doc="Audio resample stage (decimate by 2): decode → integer pair-"
        "average in the UNSIGNED byte domain (floor division on "
        "negative sums is where engines and naive codecs diverge) → "
        "RE-ENCODE at the halved rate → decode again — both codec "
        "directions run inside the Arrow batch, the audio twin of the "
        "thumbnail-resize stage. A trailing odd sample drops, matching "
        "the truncated-frame rule. Oracle restates the decimation "
        "closed-form over the synthesis formula",
)
def multimodal_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return mm.audio_downsample_features(mm.attach_fake_audio(d), factor=2)


@register(
    "multimodal_image_histogram",
    """
    WITH f AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM f
    ),
    g AS (
      SELECT doc_id, w, h,
             (doc_id * 31 + (p % w) * 7 + (p // w) * 13) % 256 AS v
      FROM px
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(COUNT(*) FILTER (WHERE v // 64 = 0) AS BIGINT) AS b0,
           CAST(COUNT(*) FILTER (WHERE v // 64 = 1) AS BIGINT) AS b1,
           CAST(COUNT(*) FILTER (WHERE v // 64 = 2) AS BIGINT) AS b2,
           CAST(COUNT(*) FILTER (WHERE v // 64 = 3) AS BIGINT) AS b3
    FROM g GROUP BY doc_id, w, h
    """,
    doc="REAL image decode path: a deterministic grayscale gradient is "
        "written into actual PNG bytes (minipng writer: zlib, CRCs, "
        "scanline filters) and decoded back by the same stdlib codec "
        "inside an Arrow-batched mapInPandas stage, then profiled into "
        "a 4-bucket luma histogram — the image-statistics pass a vision "
        "pipeline runs before training (exposure/contrast screening). "
        "Both codec directions execute per batch (the image twin of "
        "multimodal_audio_downsample); bucket counts are integers so "
        "the oracle restates the synthesis closed-form while Spark's "
        "numbers still came through a genuine PNG round trip",
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return mm.image_luma_histogram(mm.attach_fake_png(d))


@register(
    "multimodal_jpeg_roundtrip",
    """
    SELECT doc_id,
           CAST(8 * (1 + doc_id % 3) AS INTEGER) AS width,
           CAST(8 * (1 + doc_id % 2) AS INTEGER) AS height,
           CAST(2 * ((doc_id * 37) % 128) AS DOUBLE) AS mean_luma
    FROM documents
    """,
    doc="REAL JPEG decode path (VERDICT r7 item 7): solid-gray images "
        "encoded into actual baseline-JFIF bytes by operators/"
        "minijpeg.py (FDCT, quantization, per-image Huffman tables, "
        "RSTn framing on a third of the corpus) and decoded back by the "
        "same codec inside an Arrow-batched mapInPandas stage. Flat "
        "blocks are DC-only and the q50 luma DC step is exactly 16, so "
        "even gray levels round-trip EXACTLY — the oracle restates the "
        "synthesis closed-form while Spark's numbers still came through "
        "a genuine encode->decode trip",
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return mm.jpeg_luma_features(d)


@register(
    "stream_window_agg",
    """
    SELECT CAST(ts AS DATE) AS window_start, event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS value_sum
    FROM events GROUP BY CAST(ts AS DATE), event_type
    """,
    doc="Tumbling-window aggregate — batch twin of the Structured "
        "Streaming pipeline (streaming/daily_stream.py)",
)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = windowed_event_agg(ev, "1 day")
    return out.withColumn("window_start", F.col("window_start").cast("date"))


@register(
    "sessionize",
    """
    SELECT user_id, event_id,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM events
    ) t
    """,
    doc="Gap-based sessionization (30-min inactivity) via lag + running "
        "sum — the batch twin of stateful streaming sessionization",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    with_gap = base.withColumn(
        "is_new",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w_order) > 30 * 60 * 1_000_000,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return with_gap.select(
        "user_id",
        "event_id",
        F.sum("is_new").over(w_run).cast("long").alias("session_id"),
    )


@register(
    "asof_join",
    """
    SELECT p.event_id, p.user_id,
           (SELECT max(make_timestamp(epoch_us(c.ts)))
            FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND (epoch_us(c.ts) < epoch_us(p.ts)
                   OR (epoch_us(c.ts) = epoch_us(p.ts)
                       AND c.event_id <= p.event_id))) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
    doc="As-of join: each purchase matched to the user's most recent "
        "click at-or-before it — composed from a tagged union + "
        "last_value window (no Spark-native as-of join needed)",
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    both = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "event_type", "ts"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = both.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    ).withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "last_click_ts"
    )


# The domain modules register their entries into REGISTRY on import.
# Relational: TPC-H shapes, semi/anti joins, CUBE/PIVOT, percentiles,
# SQL-view surface, upsert-as-query, incremental aggregation.
from etl_tj_project_spark import harness_relational  # noqa: E402,F401

# Function surface: math/NULL/bitwise/map packs, cross-engine hazard
# pins, Spark 4 SQL surface, gap fill, format roundtrips.
from etl_tj_project_spark import harness_functions  # noqa: E402,F401

# Statistics: correlation/association, sketches, time series, search,
# CUSUM, k-anonymity.
from etl_tj_project_spark import harness_stats  # noqa: E402,F401

# Corpus curation: splits, sampling, PII, TF-IDF, quality signals,
# classifier and BPE tokenizer, chunking, embedding profiles.
from etl_tj_project_spark import harness_curation  # noqa: E402,F401

# Dedup guardrails: containment, family manifest and shared artifacts,
# canonical survivors for pairwise and graph stages, streaming dedup.
from etl_tj_project_spark import harness_dedup  # noqa: E402,F401

from etl_tj_project_spark import parity  # noqa: E402


# The driver runs CORRECTNESS on the FIRST 50 registry entries only, in
# iteration order — so iteration order is the coverage lever. The
# steady-state regime (reached r9): each window is (a) the four-entry
# §2 stability core, (b) oracle-backed entries with NO driver green yet
# (newest additions / post-window landings), then (c) the oracle-backed
# entries whose LAST driver green is OLDEST, oldest cohort first in its
# original window order. Window composition rationale recorded in
# COVERAGE.md per round.
#
# WINDOW_ROUND pins WHICH CORRECTNESS ledger this window was composed
# against: the window below was computed from CORRECTNESS_r01..r16 and
# is the round-17 submission. tests/test_oracle_parity.py's rotation
# test must ignore CORRECTNESS files >= this round — otherwise the
# moment the driver lands the NEXT record the test demands a window
# that can't exist yet (the r9 failure mode, VERDICT r9 item 1b) —
# and must equal the newest recorded round (record just landed,
# recomposition pending) or that + 1 (recomposed — the steady state);
# a missed bump fails loudly instead of silently pinning a stale
# window (ADVICE r10/r11).
WINDOW_ROUND = 18
# Scheduled rows-only refresh, third and FINAL installment (VERDICT
# r15 item 4; r16/r17 took the first two pairs): the last two r7-era
# rows-only entries, `theta_audience_overlap` and
# `kll_quantile_merge_profile`, take the r18 slots exactly as the r17
# window comment scheduled. After this round every rows-only sketch/
# trained-ANN entry has a post-r7 driver `spark_rows > 0` record and
# the rows-only bar returns (ROWS_ONLY_REFRESH empties in r19).
# tests/test_oracle_parity.py pins that rows-only window slots are
# EXACTLY this list and never more than 4.
ROWS_ONLY_REFRESH: list[str] = [
    "theta_audience_overlap",
    "kll_quantile_merge_profile",
]
DRIVER_WINDOW: list[str] = [
    # (b) never-attested: NONE — round 18 is an optimization round and
    # registers no new entries.
    # (a) §2 stability core (driver-green every round they ran, r2-r17)
    "p1_typed_projection",
    "j1_inner_join_fanout",
    "a1_agg_by_card",
    "u2_two_branch_union_agg",
    # Scheduled rows-only refresh slots (see ROWS_ONLY_REFRESH above).
    "theta_audience_overlap",
    "kll_quantile_merge_profile",
    # (c) oldest-green rotation, computed from CORRECTNESS_r01..r17:
    # first the two r11-cohort entries deferred by the r17 window
    # (newest green r11 — the stalest pair, window-mandated in full),
    "corpus_mixture_plan",
    "posexplode_tokens",
    # then 42 of the 46-entry r12 cohort (newest green r12) in its
    # CORRECTNESS_r12 record order; the cohort exceeds the remaining
    # 42-slot capacity, so its LAST FOUR record-order entries
    # (assoc_rules_support_lift, interval_prorate_weekly,
    # winsorize_price_p05_p95, running_max_drawdown) are deferred to
    # r19, where as part of the then-stalest cohort they are
    # window-mandated.
    "gdpr_delete_roundtrip",
    "merge_sorted_export_roundtrip",
    "quality_ranked_quota_sample",
    "ngram_dup_rate_curve",
    "khop_reachability",
    "contrastive_negative_sampling",
    "timezone_dst_pack",
    "regexp_extract_all_numbers",
    "text_corpus_stopword_fraction",
    "text_unigram_commonness",
    "doc_length_percentile_band",
    "embedding_q8_norm_profile",
    "graph_degree_distribution",
    "graph_triangle_count",
    "dedup_semantic_semdedup",
    "minhash_accuracy_audit",
    "embedding_pca_power_fixedpoint",
    "embedding_random_projection_16",
    "ann_projected_rerank_topk",
    "text_bigram_coverage",
    "ann_filtered_topk_per_label",
    "lang_label_confusion_matrix",
    "text_zipf_head_share",
    "bitwise_agg_pack",
    "median_iqr_pack",
    "mode_top1_per_group",
    "moving_agg_rows_frame",
    "running_distinct_count",
    "approx_distinct_kmv",
    "bpe_learned_merges",
    "full_outer_reconcile",
    "not_in_null_semantics",
    "variant_json_extract",
    "try_arithmetic_pack",
    "yoy_growth_accounts",
    "wau_rolling_distinct",
    "skewed_distinct_two_phase",
    "cms_heavy_hitters",
    "spearman_rank_corr",
    "impute_group_mean",
    "rebase_index_100",
    "vocab_jaccard_sources",
]


def ordered_registry() -> dict[str, Entry]:
    """REGISTRY with DRIVER_WINDOW entries first, the rest after in
    registration order."""
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"DRIVER_WINDOW names not registered: {missing}"
    windowed = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    windowed.update((n, e) for n, e in REGISTRY.items() if n not in windowed)
    return windowed


def queries() -> dict[str, QueryFn]:
    return {name: parity.pin_spark(e.spark) for name, e in ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    try:
        con = parity.describe_connection()
    except Exception:
        # Describe connection unavailable (e.g. no testdata on disk):
        # fall back to the raw oracles rather than returning nothing.
        return {
            name: e.oracle
            for name, e in ordered_registry().items()
            if e.oracle is not None
        }
    try:
        for name, e in ordered_registry().items():
            if e.oracle is None:
                continue
            try:
                out[name] = parity.pin_oracle_sql(con, e.oracle)
            except Exception:
                # One broken DESCRIBE must not zero the whole board —
                # fail open to the raw SQL for that entry only.
                out[name] = e.oracle
    finally:
        con.close()
    return out
