"""Physical-plan assertions: the properties that make the engine hold up
at 100 TB are checked here as plan invariants, not vibes.

* filter/projection pushdown reaches the parquet scan;
* dim joins broadcast (no shuffle of the fact for dim lookups);
* bucketed tables join with zero Exchange;
* salted join is result-identical to the plain join;
* global top-k plans as TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_tj_project_spark import harness
from etl_tj_project_spark import io as tj_io
from etl_tj_project_spark.operators.joins import salted_join
from etl_tj_project_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = harness.REGISTRY["tpch_q6_forecast_revenue"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    # Catalyst must unwrap CAST(l_shipdate AS DATE) >= d into a pushable
    # timestamp range predicate on the raw column.
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_reaches_scan(spark):
    df = harness.REGISTRY["p1_typed_projection"].spark(spark, SF_SMOKE)
    read_schema = _plan(df).split("ReadSchema:")[1].splitlines()[0]
    # 5 projected source columns of lineitem's 11 — pruned scan.
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema


def test_dim_joins_broadcast(spark):
    for name in ("j1_inner_join_fanout", "tpch_q5ish_regional_revenue"):
        plan = _plan(harness.REGISTRY[name].spark(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, name


def test_global_topk_avoids_full_sort(spark):
    plan = _plan(harness.REGISTRY["sort_limit_topk"].spark(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_salted_join_equals_plain_join(spark):
    e = load_table(spark, SF_SMOKE, "events").select(
        "event_id", (F.col("user_id") % 50).alias("k")
    )
    c = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    salted = salted_join(e, c, "k", num_salts=4, how="inner")
    plain = e.join(c, "k", "inner")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    e = load_table(spark, SF_SMOKE, "events").select(
        "event_id", (F.col("user_id") % 50 + 100000).alias("k")
    )
    c = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    salted = salted_join(e, c, "k", num_salts=4, how="left")
    plain = e.join(c, "k", "left")
    assert salted.count() == plain.count()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    tj_io.write_bucketed(
        orders, "b_orders", "o_custkey", 4, path=str(tmp_path / "b_orders")
    )
    tj_io.write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer",
        "o_custkey",
        4,
        path=str(tmp_path / "b_customer"),
    )
    try:
        bo = spark.table("b_orders")
        bc = spark.table("b_customer")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bo.join(bc, "o_custkey", "inner")
            plan = _plan(joined)
            assert "Exchange" not in plan, plan
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_partition_pruning_on_partitioned_lake(spark, tmp_path):
    """Day-partitioned warehouse + single-day filter → the scan lists only
    the matching partition directory (the physical layer of P3)."""
    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)

    some_day = ev.select(F.min("event_date")).first()[0]
    one_day = spark.read.parquet(out).filter(
        F.col("event_date") == F.lit(str(some_day)).cast("date")
    )
    plan = _plan(one_day)
    # The date predicate must be a partition-level filter (directory
    # listing), not a data filter evaluated per row group.
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_date" in pf
    # And the pruned scan returns exactly that day's rows.
    n_day = ev.filter(F.col("event_date") == F.lit(str(some_day)).cast("date")).count()
    assert one_day.count() == n_day > 0


def test_compact_partitions_one_file_per_day(spark, tmp_path):
    out = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    # Fragment: many small files per partition (a streaming sink's wake).
    ev.repartition(8).write.partitionBy("event_date").parquet(out)
    before = spark.read.parquet(out)
    n_before = before.count()
    frag_files = len(before.inputFiles())

    tj_io.compact_partitions(spark, out, partition_col="event_date")

    after = spark.read.parquet(out)
    n_days = after.select("event_date").distinct().count()
    assert after.count() == n_before
    assert len(after.inputFiles()) == n_days < frag_files


def test_jdbc_reader_gated_without_driver(spark):
    """S2 federation builder: constructing the lazy JDBC read must not
    require a driver jar; resolving it without one fails with Spark's
    clear driver error, not an opaque crash."""
    import pytest as _pytest

    from etl_tj_project_spark.sources.jdbc import read_jdbc_pushdown

    with _pytest.raises(Exception) as ei:
        # Schema resolution contacts the driver — the earliest failure
        # point; the builder itself must not raise.
        read_jdbc_pushdown(
            spark, "jdbc:postgresql://nohost:5432/db", "src.table"
        ).schema
    assert "driver" in str(ei.value).lower() or "ClassNotFound" in str(ei.value)


def test_jdbc_reader_validates_partition_bounds(spark):
    import pytest as _pytest

    from etl_tj_project_spark.sources.jdbc import read_jdbc_pushdown

    with _pytest.raises(ValueError, match="lower_bound"):
        read_jdbc_pushdown(
            spark,
            "jdbc:postgresql://nohost:5432/db",
            "src.table",
            partition_column="id",
        )


def test_drop_near_duplicates_end_to_end(spark):
    """LSH → Jaccard → greedy drop on a corpus with planted near-dups."""
    from etl_tj_project_spark.operators.dedup import drop_near_duplicates

    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays a slow tune in the warm evening light near the river"
    )
    near = base.replace("slow tune", "quiet tune")  # one-word paraphrase
    rows = [
        (0, base),
        (1, base),            # exact dup of 0 → dropped
        (2, near),            # near dup of 0 → dropped
        (3, "completely different text about spark query engines and "
            "distributed shuffles at terabyte scale with many operators"),
        (4, "yet another unrelated document mentioning minhash lsh "
            "signatures bands buckets and jaccard verification steps"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = drop_near_duplicates(df, "doc_id", "text", threshold=0.5)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 3, 4]


def test_prepare_corpus_end_to_end(spark):
    from etl_tj_project_spark.operators.corpus import (
        QualityThresholds,
        prepare_corpus,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and runs through "
        "the quiet field before the sun sets on the hill"
    )
    rows = [
        (0, good),
        (1, good),                         # exact dup → dropped
        (2, good.replace("quiet", "calm")),  # near dup → dropped
        (3, "x@#$%"),                       # fails quality → dropped
        (4, "el rapido zorro marron salta sobre el perro perezoso en la "
            "manana y corre por el campo antes de que el sol se ponga"),  # es → dropped
        (5, "a completely different english document about query engines "
            "and the many ways a shuffle can be avoided at large scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = prepare_corpus(
        df, th=QualityThresholds(), languages=("en",), near_dup_threshold=0.5
    )
    assert sorted(r.doc_id for r in kept.collect()) == [0, 5]


def test_no_registered_query_leaves_the_jvm(spark):
    """Global invariant: every registered query compiles to a plan with no
    row-at-a-time Python UDF (BatchEvalPython). Python is allowed only as
    Arrow-batched mapInPandas/applyInPandas in the explicitly-vectorized
    operators (multimodal decode) — everything else must stay inside
    whole-stage codegen, or it cannot run at 100 TB.
    """
    # The multimodal_* family IS the explicitly-vectorized surface: binary
    # media decode cannot be a Column expression, so those entries are
    # Arrow-batched by design (and their batch shape is itself plan-tested).
    for name, entry in harness.REGISTRY.items():
        if name.startswith("multimodal_"):
            continue
        plan = _plan(entry.spark(spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, f"{name} uses a row Python UDF"
        assert "MapInPandas" not in plan, f"{name} unexpectedly Arrow-batched"
        assert "FlatMapGroupsInPandas" not in plan, name


def test_q10_topk_avoids_full_sort(spark):
    plan = _plan(harness.REGISTRY["tpch_q10_returned_items"].spark(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q15_scalar_max_is_broadcast_back(spark):
    # The 1-row global max must come back via a broadcast join, not a
    # driver collect or a shuffled join.
    plan = _plan(harness.REGISTRY["tpch_q15_top_supplier"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_contamination_check_broadcasts_eval_side(spark):
    plan = _plan(
        harness.REGISTRY["corpus_contamination_check"].spark(spark, SF_SMOKE)
    )
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_skewed_window_has_no_key_only_partition(spark):
    """The two-phase rewrite must never sort a whole key in one task: every
    Window over the full fact table partitions on (key, chunk), and the
    only key-only window runs over the tiny per-chunk totals table."""
    import re

    plan = _plan(
        harness.REGISTRY["skewed_window_two_phase"].spark(spark, SF_SMOKE)
    )
    assert "BroadcastHashJoin" in plan  # offsets come back via broadcast
    # Each Window's partition spec: the fact-table running sum must carry
    # the chunk column next to the skewed key.
    specs = re.findall(r"Window \[.*?partitionspec=\[(.*?)\]", plan) or re.findall(
        r"windowspecdefinition\((.*?), specifiedwindowframe", plan
    )
    assert specs, f"no window spec found in plan:\n{plan[:2000]}"
    for s in specs:
        if "_chunk_sum" in s:
            continue  # offsets window: |keys|x|chunks| rows, key-only is fine
        assert "_chunk" in s, f"fact window partitioned on key only: {s}"


def test_tfidf_probe_filter_pushes_to_scan(spark):
    """The doc_id<100 probe bound must reach the parquet scan through the
    explode+groupBy chain — at 100 TB the tf branch reads 100 docs, not
    the corpus."""
    plan = _plan(harness.REGISTRY["tfidf_top_terms"].spark(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    assert "LessThan(doc_id,100)" in plan.replace(" ", "")


def test_jdbc_federation_end_to_end_with_derby(spark, tmp_path):
    """S2 federation proven end-to-end against a real JDBC database
    (embedded Derby ships with Spark): the declarative filter is pushed
    into the remote SQL, the read splits into parallel range queries,
    and the values round-trip exactly — everything the reference's
    serial dblink pull does, plus pushdown and parallelism."""
    from etl_tj_project_spark.sources.jdbc import read_jdbc_pushdown

    jvm = spark._jvm
    db = str(tmp_path / "derby_fed")
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    con = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};create=true")
    try:
        st = con.createStatement()
        st.executeUpdate(
            "CREATE TABLE trx (id INT, day_key INT, amount DOUBLE, "
            "status VARCHAR(4))"
        )
        ps = con.prepareStatement("INSERT INTO trx VALUES (?, ?, ?, ?)")
        rows = [
            (i, 20240100 + (i % 7), i * 1.5, "S" if i % 3 else "F")
            for i in range(100)
        ]
        for i, day, amt, status in rows:
            ps.setInt(1, i)
            ps.setInt(2, day)
            ps.setDouble(3, amt)
            ps.setString(4, status)
            ps.addBatch()
        ps.executeBatch()
    finally:
        con.close()

    df = read_jdbc_pushdown(
        spark,
        f"jdbc:derby:{db}",
        "trx",
        partition_column="id",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    assert df.rdd.getNumPartitions() == 4  # parallel range scan, not a cursor

    flt = df.filter(
        (F.col("status") == "S") & (F.col("day_key") == 20240101)
    ).select("id", "amount")
    plan = _plan(flt)
    pushed = plan.upper().split("PUSHEDFILTERS")[1][:250]
    assert "STATUS" in pushed and "DAY_KEY" in pushed  # remote-side filter

    want = sorted(
        (i, amt) for i, day, amt, status in rows
        if status == "S" and day == 20240101
    )
    got = sorted((r.id, r.amount) for r in flt.collect())
    assert got == want and len(got) > 0


def test_jdbc_upsert_merge_on_derby(spark, tmp_path):
    """S5 ON CONFLICT upsert proven against a real database: stage via
    the parallel JDBC writer, reconcile with one MERGE — updated rows
    take the new values, unmatched keys insert, untouched rows stay."""
    from etl_tj_project_spark.sources.jdbc import (
        read_jdbc_pushdown,
        write_jdbc_upsert,
    )

    jvm = spark._jvm
    db = str(tmp_path / "derby_upsert")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jvm.java.lang.Class.forName(props["driver"])
    con = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = con.createStatement()
        st.executeUpdate(
            "CREATE TABLE dim_route (route_code INT PRIMARY KEY, "
            "route_name VARCHAR(32))"
        )
        st.executeUpdate("INSERT INTO dim_route VALUES (1, 'old-1')")
        st.executeUpdate("INSERT INTO dim_route VALUES (2, 'old-2')")
        st.executeUpdate("INSERT INTO dim_route VALUES (3, 'keep-3')")
    finally:
        con.close()

    delta = spark.createDataFrame(
        [(1, "new-1"), (2, "new-2"), (9, "ins-9")],
        ["route_code", "route_name"],
    )
    write_jdbc_upsert(
        delta, f"jdbc:derby:{db}", "dim_route", ["route_code"], properties=props
    )

    back = read_jdbc_pushdown(
        spark, f"jdbc:derby:{db}", "dim_route", properties=props
    )
    got = sorted((r.ROUTE_CODE, r.ROUTE_NAME) for r in back.collect())
    assert got == [(1, "new-1"), (2, "new-2"), (3, "keep-3"), (9, "ins-9")]


def test_kmeans_recovers_planted_clusters(spark):
    """Lloyd training on three tight planted clusters must converge to
    the cluster means and assign every vector to its own cluster."""
    import random

    from etl_tj_project_spark.operators.similarity import (
        _cell_expr,
        train_kmeans,
    )

    rng = random.Random(7)
    anchors = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    rows = []
    vid = 0
    for a in anchors:
        for _ in range(30):
            rows.append((vid, [x + rng.uniform(-0.5, 0.5) for x in a]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    # Both execution shapes must converge: the single-task numpy path
    # (auto's pick at this size) and the distributed per-iteration
    # (cell, dim)-shuffle loop — same update rule, different summation
    # order, so assert convergence per strategy, not bitwise equality.
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.hypot(*a) * math.hypot(*b))

    cents = None
    for strategy in ("local", "distributed"):
        cents = train_kmeans(df, k=3, iters=5, strategy=strategy)
        matched = {
            max(range(3), key=lambda i: cos(c, anchors[i])) for c in cents
        }
        assert matched == {0, 1, 2}, strategy
        for c in cents:
            assert max(cos(c, a) for a in anchors) > 0.99, strategy

    # And the assignment column expression puts every vector with its
    # planted cluster (purity 1.0 on this separation).
    assigned = df.select(
        "vec_id", _cell_expr(F.col("embedding"), cents).alias("cell")
    ).collect()
    groups = {}
    for r in assigned:
        groups.setdefault(r.vec_id // 30, set()).add(r.cell)
    assert all(len(cells) == 1 for cells in groups.values())
    assert len(set().union(*groups.values())) == 3


def test_pq_strategies_agree_and_distributed_stays_exercised(spark):
    """ADVICE r7: train_pq's auto strategy sends every small input down
    the single-task path, so without this test the distributed PQ Lloyd
    loop had zero coverage and no local-vs-distributed equivalence
    check. Both strategies share one update rule (L2 argmin, ties to the
    smaller codeword, empty codewords keep their centroid) and differ
    only in float summation order — codebooks must agree within float
    tolerance, and a planted-structure check pins that the DISTRIBUTED
    loop itself converges to the planted subspace codewords."""
    import random

    from etl_tj_project_spark.operators.similarity import train_pq

    # Planted structure per subspace: dim=8, m=4 subspaces of 2 dims,
    # each vector's subspace slice drawn near one of 2 anchors.
    rng = random.Random(11)
    anchors = [(-5.0, -5.0), (5.0, 5.0)]
    rows = []
    for vid in range(60):
        vec = []
        for _ in range(4):
            ax, ay = anchors[rng.randint(0, 1)]
            vec += [ax + rng.uniform(-0.3, 0.3), ay + rng.uniform(-0.3, 0.3)]
        rows.append((vid, vec))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    books = {}
    for strategy in ("local", "distributed"):
        books[strategy] = train_pq(
            df, m=4, ksub=2, iters=6, strategy=strategy
        )
    for bl, bd in zip(books["local"], books["distributed"]):
        for cl, cd in zip(bl, bd):
            for a, b in zip(cl, cd):
                assert abs(a - b) < 1e-6, (books["local"], books["distributed"])
    # The distributed loop's codebooks must recover the planted anchors
    # (convergence, not just agreement-with-local).
    for book in books["distributed"]:
        found = {
            min(
                range(2),
                key=lambda i: sum(
                    (x - a) ** 2 for x, a in zip(c, anchors[i])
                ),
            )
            for c in book
        }
        assert found == {0, 1}
        for c in book:
            best = min(
                sum((x - a) ** 2 for x, a in zip(c, anc)) for anc in anchors
            )
            assert best < 0.25, book


def test_probe_arrow_paths_match_expr_paths(spark):
    """The round-8 Arrow probe variants (ivf assign='arrow',
    pq encode='arrow') must return the same rows as the expression
    paths on tie-free data — same tie rules, different float summation
    order, so any divergence on well-separated vectors is a bug."""
    import random

    from etl_tj_project_spark.operators.similarity import ivf_topk, pq_topk

    rng = random.Random(23)
    rows = [
        (vid, [rng.uniform(-1, 1) for _ in range(16)]) for vid in range(120)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0)

    got = {}
    for mode in ("expr", "arrow"):
        got[mode] = sorted(
            (r["vec_id"], round(r["cosine"], 9))
            for r in ivf_topk(
                df, q, k=10, n_cells=4, n_probe=2, assign=mode
            ).collect()
        )
    assert got["expr"] == got["arrow"]

    books = [
        [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(4)]
        for _ in range(4)
    ]
    got = {}
    for mode in ("expr", "arrow"):
        got[mode] = sorted(
            (r["vec_id"], round(r["cosine"], 9))
            for r in pq_topk(
                df, q, k=10, m=4, ksub=4, codebooks=books, encode=mode
            ).collect()
        )
    assert got["expr"] == got["arrow"]
    import pytest

    with pytest.raises(ValueError, match="assign"):
        ivf_topk(df, q, assign="bogus")
    with pytest.raises(ValueError, match="encode"):
        pq_topk(df, q, codebooks=books, m=4, ksub=4, encode="bogus")


def test_distributed_trainers_empty_cells_and_empty_partitions(spark):
    """Edge cases of the round-8 Arrow-partials iteration: (a) a cell/
    codeword that captures no vectors must KEEP its centroid (cnt=0
    partials must not divide), and (b) empty input partitions must
    contribute zero partials, not crash or skew. Identical duplicate
    vectors force (a): ties assign every row to the larger cell, so
    cell 0 stays empty; over-wide repartitioning forces (b)."""
    import pytest

    from etl_tj_project_spark.operators.similarity import (
        train_kmeans,
        train_pq,
    )

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(32)
    for strategy in ("local", "distributed"):
        cents = train_kmeans(df, k=2, iters=3, strategy=strategy)
        # All rows tie on cosine -> assigned to the LARGER cell id;
        # cell 1 converges to the data mean, cell 0 keeps its init.
        assert cents[1] == pytest.approx([1.0, 2.0, 3.0, 4.0]), strategy
        assert cents[0] == pytest.approx([1.0, 2.0, 3.0, 4.0]), strategy

    for strategy in ("local", "distributed"):
        books = train_pq(df, m=2, ksub=2, iters=3, strategy=strategy)
        # L2 argmin ties to the SMALLER codeword -> codeword 1 empty,
        # keeps its init (== codeword 0's init here, all dup vectors).
        for j, book in enumerate(books):
            want = [1.0, 2.0] if j == 0 else [3.0, 4.0]
            assert book[0] == pytest.approx(want), (strategy, j)
            assert book[1] == pytest.approx(want), (strategy, j)


def test_chunked_running_sum_equals_naive_window_on_adversarial_data(spark):
    """Property check: the two-phase rewrite equals the plain window on
    random data with duplicate order keys, ties, single-row chunks, and
    an empty chunk boundary."""
    import random

    from pyspark.sql import Window

    from etl_tj_project_spark.operators.windows import chunked_running_sum

    rng = random.Random(13)
    rows = []
    for i in range(300):
        key = rng.choice(["A", "B"])
        # Chunk values 0..4 with deliberate gaps and hot chunks.
        chunk = rng.choice([0, 0, 0, 1, 3, 4])
        pos = rng.randint(0, 5)  # duplicate order positions (ties)
        val = rng.randint(-5, 20)
        rows.append((i, key, chunk, pos, val))
    df = spark.createDataFrame(rows, ["rid", "key", "chunkv", "pos", "val"])

    got = chunked_running_sum(
        df,
        key="key",
        chunk=F.col("chunkv"),
        order_cols=[F.col("chunkv"), F.col("pos"), F.col("rid")],
        value=F.col("val"),
        out_col="rs",
    ).select("rid", "rs")

    w = (
        Window.partitionBy("key")
        .orderBy("chunkv", "pos", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.select("rid", F.sum("val").over(w).alias("rs"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_binned_interval_join_is_equi_not_nested_loop(spark):
    """The whole point of the bin rewrite: the physical plan must be a
    hash/sort-merge EQUI join on the bin, never BroadcastNestedLoopJoin
    (which a raw containment predicate between two non-broadcast sides
    would force)."""
    df = harness.REGISTRY["interval_containment_join"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_binned_interval_join_exact_on_bin_edges(spark):
    """Points sitting exactly on bin boundaries and intervals whose
    endpoints coincide with bin edges must bin consistently (the
    double-division floor bug this guards against) — verified against a
    driver-side brute-force containment check."""
    from etl_tj_project_spark.operators.joins import binned_interval_join

    W = 100
    pts = [(i, v) for i, v in enumerate(
        [0, 99, 100, 101, 200, 250, 299, 300, 1000]
    )]
    ivs = [(10, 0, 100), (11, 100, 199), (12, 100, 300), (13, 250, 250),
           (14, 301, 999)]
    points = spark.createDataFrame(pts, "pid long, p long")
    intervals = spark.createDataFrame(ivs, "iid long, lo long, hi long")
    got = sorted(
        (r.pid, r.iid)
        for r in binned_interval_join(
            points, intervals, "p", "lo", "hi", bin_width=W
        ).collect()
    )
    want = sorted(
        (pid, iid)
        for pid, p in pts
        for iid, lo, hi in ivs
        if lo <= p <= hi
    )
    assert got == want and len(want) > 0


def test_zordered_write_tightens_file_stats_in_both_dims(spark, tmp_path):
    """The point of Z-ordering: after write_zordered, each FILE's
    (min, max) envelope must be narrow in BOTH dimensions, so parquet
    footer stats can skip files for predicates on either column. Total
    per-file range must shrink substantially vs an unclustered write of
    the same data."""
    from etl_tj_project_spark.io import write_zordered

    # Equal 7-bit domains for both dimensions — Z-order requires
    # comparable bit widths (see morton_key_2d's docstring; unbalanced
    # widths degenerate to a sort on the wide dimension).
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        (F.col("o_custkey").bitwiseAND(F.lit(127))).alias("x"),
        (F.pmod(F.col("o_orderkey") * 31, F.lit(128))).alias("y"),
    )
    plain_dir = str(tmp_path / "plain")
    z_dir = str(tmp_path / "zorder")
    # Unclustered baseline with the SAME file count: random-ish hash
    # distribution puts every file's envelope near the full domain.
    o.repartition(16).write.parquet(plain_dir)
    # 16 range-partitioned files = top 4 key bits = 2 bits per
    # dimension: every file's envelope is ~1/4 of each domain.
    write_zordered(o, z_dir, "x", "y", num_files=16)

    def total_envelope(path: str) -> tuple[int, int, int]:
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("x") - F.min("x")).alias("rx"),
                (F.max("y") - F.min("y")).alias("ry"),
            )
        )
        row = per_file.agg(
            F.sum("rx").alias("sx"), F.sum("ry").alias("sy"),
            F.count(F.lit(1)).alias("nf"),
        ).first()
        return int(row.sx), int(row.sy), int(row.nf)

    px, py, pn = total_envelope(plain_dir)
    zx, zy, zn = total_envelope(z_dir)
    assert pn >= 4 and zn >= 4  # both actually produced multiple files
    # Both dimensions tighten — not just the primary sort column, which
    # is what a plain ORDER BY x would give (ry stays ~full-domain).
    assert zx < 0.5 * px, (zx, px)
    assert zy < 0.5 * py, (zy, py)


def test_aqe_splits_skewed_join_partitions(spark):
    """Layer 1 of the skew strategy (SCALE.md §3) actually fires: with a
    90%-hot key, AQE's runtime re-plan must mark the sort-merge join
    skew=true (splitting the oversized partition across tasks) in the
    FINAL adaptive plan, and the result must equal the plain join.
    Thresholds are lowered to make kilobyte-scale test data look like
    the multi-GB partitions that trigger this in production."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 40000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("lv"),
            F.lpad(F.lit("x"), 64, "x").alias("pad"),
        )
        right = spark.range(0, 2000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, "k").select("k", "lv", "rv")
        got = sorted(map(tuple, j.collect()))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the hot partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # Correctness: identical to the same join under default planning.
    want = sorted(
        map(tuple, left.join(right, "k").select("k", "lv", "rv").collect())
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Round-5 operator plan invariants
# ---------------------------------------------------------------------------

def test_pq_candidates_use_take_ordered(spark):
    """The PQ-ADC candidate stage must be TakeOrderedAndProject
    (per-partition heaps of k*oversample), never a global sort of the
    scored scan."""
    from pyspark.sql import functions as F

    from etl_tj_project_spark.operators import similarity as sim
    from etl_tj_project_spark.sources.testdata import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    books = sim.train_pq(e, m=8, ksub=16, iters=1)
    top = sim.pq_topk(e, q, k=10, codebooks=books, oversample=4)
    plan = _plan(top)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan, (
        "PQ candidate selection fell back to a global sort"
    )


def test_corpus_stopword_top20_is_broadcast(spark):
    """The adaptive stopword list (top-20 terms) must reach the token
    stream as a broadcast, not a shuffle join."""
    from etl_tj_project_spark import harness

    plan = _plan(
        harness.REGISTRY["text_corpus_stopword_fraction"].spark(
            spark, SF_SMOKE
        )
    )
    assert "BroadcastHashJoin" in plan


def test_kmv_sketch_stays_in_jvm(spark):
    """The KMV sketch is pure engine expressions — no Python stage in
    the plan (the sketch must run inside codegen at 100 TB)."""
    from etl_tj_project_spark import harness

    plan = _plan(harness.REGISTRY["approx_distinct_kmv"].spark(spark, SF_SMOKE))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_pq_stored_codes_equal_on_the_fly(spark, tmp_path):
    """Writing pq_encode codes to parquet and ADC-ranking from the
    STORED codes must equal pq_topk's on-the-fly encode — the
    encode-once / scan-codes contract production PQ relies on."""
    from pyspark.sql import functions as F

    from etl_tj_project_spark.operators import similarity as sim
    from etl_tj_project_spark.sources.testdata import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    books = sim.train_pq(e, m=8, ksub=16, iters=1)
    codes_dir = str(tmp_path / "pq_codes")
    sim.pq_encode(e, books).write.parquet(codes_dir)
    stored = spark.read.parquet(codes_dir)
    # on-the-fly reference
    q = e.filter(F.col("vec_id") == 0)
    want = [
        (r.vec_id, round(r.approx_l2sq, 9))
        for r in sim.pq_topk(
            e, q, k=10, codebooks=books, oversample=4
        ).collect()
    ]
    # stored-codes ADC: join codes back to vectors only for the rerank
    dsub = len(books[0][0])
    books_lit = F.array(*[
        F.array(*[sim._plane_col(c) for c in book]) for book in books
    ])
    lut = F.transform(
        books_lit,
        lambda book, j: F.transform(
            book,
            lambda c: sim._l2sq(
                F.slice(F.col("__qv"), j * dsub + 1, dsub), c
            ),
        ),
    )
    qside = F.broadcast(
        q.select(F.col("embedding").alias("__qv")).select(
            "__qv", lut.alias("__lut")
        )
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("pq_code"), F.col("__lut"),
            lambda code, row: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cands = (
        stored.crossJoin(qside)
        .select("vec_id", adc.alias("approx_l2sq"), "__qv")
        .orderBy(F.col("approx_l2sq"), F.col("vec_id"))
        .limit(40)
    )
    got_full = (
        cands.join(e, "vec_id")
        .select(
            "vec_id", "approx_l2sq",
            sim.cosine_similarity(F.col("embedding"), F.col("__qv")).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
        .collect()
    )
    got = [(r.vec_id, round(r.approx_l2sq, 9)) for r in got_full]
    assert got == want


def test_runtime_bloom_filter_join_fires(spark):
    """Runtime bloom-filter injection: a selective build side plants a
    bloom filter on the probe side's scan, dropping non-joining fact
    rows BEFORE the shuffle — at 100 TB that is the difference between
    shuffling the whole fact and shuffling the matching ~fraction.
    Thresholds are lowered so injection fires at test scale (the
    mechanism, not the default sizing, is what must hold); result
    identity vs default planning is asserted."""
    from pyspark.sql import functions as F

    from etl_tj_project_spark.sources.testdata import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )

    def joined():
        return li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_linenumber", "o_totalprice"
        )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = joined()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower() or "bloom" in plan.lower(), (
            "runtime bloom filter did not inject"
        )
        got = sorted(map(tuple, j.collect()))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = sorted(map(tuple, joined().collect()))
    assert got == want and len(got) > 0


def test_zstd_write_roundtrip(spark, tmp_path):
    """Production parquet writes use zstd (better ratio than the snappy
    default at comparable speed); the option must produce zstd files
    that read back identically."""
    import glob as _glob

    from etl_tj_project_spark.sources.testdata import load_table

    src = load_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "zstd_orders")
    src.write.option("compression", "zstd").parquet(out)
    files = _glob.glob(out + "/*.zstd.parquet")
    assert files, "no zstd-suffixed parquet files written"
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)


def test_knn_join_is_equi_not_nested_loop(spark):
    """The Hamming-ball probe must plan as a bucket-keyed EQUI join
    (explode of probe buckets), never BroadcastNestedLoopJoin or a
    cartesian product — the property that makes the k-NN join
    partition-prunable at scale."""
    plan = _plan(
        harness.REGISTRY["ann_knn_join_topk"].spark(spark, SF_SMOKE)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_duplicate_shipment_screen_is_equi_join(spark):
    """(part, supplier) equality is the join key; the date band is a
    residual filter — no nested-loop join may appear."""
    plan = _plan(
        harness.REGISTRY["duplicate_shipment_pairs"].spark(spark, SF_SMOKE)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_winsorize_percentile_cuts_are_broadcast(spark):
    """The per-group percentile table is 3 rows — it must come back to
    the fact as a broadcast join, not a shuffle."""
    plan = _plan(
        harness.REGISTRY["winsorize_price_p05_p95"].spark(spark, SF_SMOKE)
    )
    assert "BroadcastHashJoin" in plan


def test_prefix_filter_never_plans_allpairs(spark):
    """Prefix filtering's candidate join must be an equi join on the
    prefix token — the completeness proof is only useful if the plan
    stays sub-quadratic."""
    from etl_tj_project_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(prefix_filter_jaccard_pairs(d, "doc_id", "text", 4, 5))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cc_local_strategy_is_one_python_stage(spark):
    """The small-graph strategy must be exactly the promised shape: one
    MapInPandas task over a coalesced single partition — no joins, no
    aggregate exchanges (the distributed loop's signature operators)."""
    from etl_tj_project_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"]
    )
    plan = _plan(connected_components(edges, strategy="local"))
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "HashAggregate" not in plan


def test_kmeans_local_strategy_runs_no_lloyd_shuffle(spark):
    """Single-task training must not submit the distributed loop's
    (cell, dim) aggregation jobs: trained centroids come from one
    MapInPandas collect, with only the init/count jobs beside it."""
    from etl_tj_project_spark.operators.similarity import train_kmeans

    rows = [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    cents = train_kmeans(df, k=3, iters=5, strategy="local")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert len(cents) == 3 and len(cents[0]) == 3
    # init collect + the single training task: 2 jobs, never the
    # 2-jobs-per-Lloyd-iteration of the distributed loop.
    assert after - before <= 3, f"local trainer submitted {after - before} jobs"


def test_u2_single_scan_equals_default(spark):
    """The cold-IO single-scan explode rewrite (VERDICT r8 item 4) must
    be value-identical to the default two-branch plan — inner-join
    semantics via the part hit flag, branch-2 NULL route_codes surviving
    explode as null STRUCT FIELDS (never null array elements).

    This equality holds only under the fused plan's three documented
    assumptions (see the ASSUMES block in harness.u2_plan, ADVICE r9):
    unique p_partkey, unique s_suppkey, and disjoint p_brand/s_name
    domains — all PK/domain facts of the TPC-H-ish schema at every
    generated SF. A schema violating any of them must use the default
    plan; this test pins the equivalence on data that satisfies them."""
    a = harness.u2_two_branch_union_agg(spark, SF_SMOKE)
    b = harness.u2_two_branch_union_agg(spark, SF_SMOKE, single_scan=True)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_u2_single_scan_scans_fact_once(spark):
    """The whole point of the variant: ONE lineitem scan (the default
    plan has two), dims still broadcast, branch fan-out via the
    codegen'd Expand operator (grouping sets) — NOT Generate/explode,
    which the round-9 three-way A/B rejected (array-alloc overhead)."""
    d = harness.u2_two_branch_union_agg(spark, SF_SMOKE)
    s = harness.u2_two_branch_union_agg(spark, SF_SMOKE, single_scan=True)
    assert _plan(d).count("lineitem.parquet") == 2
    plan_s = _plan(s)
    assert plan_s.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan_s
    assert "Expand" in plan_s
    assert "Generate" not in plan_s


def test_paragraph_chunk_dedup_shuffles_hash_not_text(spark):
    """dedup_paragraph_chunks (round 9): the first-occurrence
    resolution must be an equi-join keyed on the 32-char MD5 — never a
    nested-loop/cartesian over chunk text — and the exploded chunk text
    must be absent from the groupBy that computes first owners (the
    shuffle that would carry the corpus payload at 100 TB)."""
    df = harness.REGISTRY["dedup_paragraph_chunks"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # The firsts aggregate groups on the hash key k and carries only
    # the packed BIGINT order key — HashAggregate keys must include k
    # and its aggregate buffer must not reference chunk_text.
    agg_lines = [
        ln for ln in plan.splitlines()
        if "HashAggregate" in ln and "min(ord" in ln
    ]
    assert agg_lines, "first-occurrence min aggregate not found in plan"
    assert all("chunk_text" not in ln for ln in agg_lines)


def test_keyset_boundary_guard_exact_semantics(spark):
    """_keyset_boundary (VERDICT r9 item 6): the in-query cursor guard
    must fire EXACTLY when the boundary tuple straddles the page edge —
    duplicates fully inside a page are harmless and must pass."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from etl_tj_project_spark.harness_relational import _keyset_boundary

    keys = ["k1", "k2"]

    def mk(rows):
        return spark.createDataFrame(rows, "k1 int, k2 int")

    # Straddling duplicate: page_size=3, rows 3 and 4 share the tuple
    # -> a strict seek after page 1 would skip row 4. Must raise and
    # name the tuple.
    bad = mk([(1, 1), (2, 1), (3, 7), (3, 7), (9, 9)])
    with pytest.raises(SparkRuntimeException, match="skip rows"):
        _keyset_boundary(bad, keys, page_size=3).collect()

    # Same duplicate entirely INSIDE the page: harmless, boundary is
    # the page's last row.
    ok_inside = mk([(1, 1), (3, 7), (3, 7), (8, 1), (9, 9)])
    b = _keyset_boundary(ok_inside, keys, page_size=3).collect()[0]["b"]
    assert (b["k1"], b["k2"]) == (3, 7)

    # Table smaller than the page: boundary = true last row, no guard.
    small = mk([(1, 1), (2, 2)])
    b = _keyset_boundary(small, keys, page_size=3).collect()[0]["b"]
    assert (b["k1"], b["k2"]) == (2, 2)

    # Table exactly page-sized (the desc-top-2 sees rows N and N-1 —
    # must NOT misread them as a straddle).
    exact = mk([(1, 1), (2, 2), (3, 3)])
    b = _keyset_boundary(exact, keys, page_size=3).collect()[0]["b"]
    assert (b["k1"], b["k2"]) == (3, 3)

    # Empty input: no cursor tuple exists. A silent NULL boundary would
    # make the downstream strict seek filter every row — must fail
    # loudly instead (ADVICE r10).
    empty = spark.createDataFrame([], "k1 int, k2 int")
    with pytest.raises(SparkRuntimeException, match="empty input"):
        _keyset_boundary(empty, keys, page_size=3).collect()


def test_jsonl_writer_keeps_one_line_per_record(spark, tmp_path):
    """The jsonl_write_roundtrip scale claim: values containing literal
    newlines are ESCAPED in-value by the JSON writer, so every record
    stays one physical line and a 100 TB export remains line-splittable
    per file (the hazard the CSV leg documents as its scope cut)."""
    import glob
    import os

    df = spark.createDataFrame(
        [(1, 'multi\nline "quoted" \\ payload'), (2, "plain")],
        "id int, body string",
    )
    out = str(tmp_path / "jl")
    df.coalesce(1).write.mode("overwrite").json(out)
    files = glob.glob(os.path.join(out, "part-*"))
    assert files
    lines = [ln for f in files for ln in open(f).read().splitlines() if ln]
    assert len(lines) == 2, lines  # one physical line per record
    back = spark.read.schema(df.schema).json(out).collect()
    assert {r.body for r in back} == {
        'multi\nline "quoted" \\ payload', "plain"
    }


def test_export_sorted_file_ranges_monotonic_and_content_exact(
    spark, tmp_path
):
    """io.export_sorted (VERDICT r10 item 2, total-order sorted export):
    (a) per-file key ranges are NON-OVERLAPPING and MONOTONIC in
    lexicographic file-name order — reading part files in name order IS
    the global order; (b) the exported content equals the input exactly
    (the sort loses/duplicates nothing); (c) the plan range-partitions
    (distributed sort), with no single-partition global sort anywhere."""
    from etl_tj_project_spark.io import export_sorted

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    keys = ["l_shipdate", "l_orderkey", "l_linenumber"]
    out = str(tmp_path / "sorted_export")
    export_sorted(li, out, keys, num_files=8)

    # (c) plan: the write's child must be RangePartitioning — a
    # distributed sort — and never collapse to a single partition.
    plan = (
        li.repartitionByRange(8, *keys)
        .sortWithinPartitions(*keys)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower(), plan
    assert "singlepartition" not in plan.lower(), plan

    back = spark.read.parquet(out)
    # (a) per-file boundary tuples, in file-name order. The struct
    # min/max compares lexicographically — exactly the sort order.
    tup = F.struct(*keys)
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min(tup).alias("lo"),
            F.max(tup).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("f")
        .collect()
    )
    assert len(per_file) >= 4, "export produced too few files to prove ranges"
    assert all(r.n > 0 for r in per_file)
    for prev, nxt in zip(per_file, per_file[1:]):
        # Strict monotonicity ACROSS files: every file's max key is <=
        # the next file's min key (equal keys never straddle a range
        # boundary, so <= here means no interleaving; with the unique
        # (orderkey, linenumber) suffix the boundary tuples differ).
        assert tuple(prev.hi) <= tuple(nxt.lo), (prev.hi, nxt.lo)

    # (b) content equality, exact: same multiset of full rows.
    a = sorted(map(tuple, li.collect()))
    b = sorted(map(tuple, back.select(*li.columns).collect()))
    assert a == b


def test_merge_sorted_export_rewrites_only_touched_ranges(spark, tmp_path):
    """io.merge_sorted_export: folding a delta into a sorted export must
    (a) produce content EXACTLY equal to a full re-sort of base+delta,
    (b) keep per-file ranges monotonic in file-name order, (c) rewrite
    ONLY the files whose key range the delta touches — untouched files
    come through as byte-identical copies (the merge-on-write pruning
    that makes sorted-table maintenance O(delta), not O(table))."""
    import hashlib
    import os

    from etl_tj_project_spark.io import export_sorted, merge_sorted_export

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    keys = ["l_shipdate", "l_orderkey", "l_linenumber"]
    base_dir = str(tmp_path / "base")
    out_dir = str(tmp_path / "merged")
    export_sorted(li, base_dir, keys, num_files=8)

    # Delta: rows landing inside a NARROW key band (plus one beyond the
    # global max) — most files' ranges must be untouched.
    mid = li.orderBy(*keys).limit(200).orderBy(*[F.col(k).desc() for k in keys]).limit(1).collect()[0]
    from datetime import datetime

    delta = spark.createDataFrame(
        [(mid.l_shipdate, mid.l_orderkey, 90 + i, float(i)) for i in range(5)]
        + [(datetime(2099, 12, 31), 999999999, 1, 1.0)],
        li.schema,
    )
    stats = merge_sorted_export(spark, base_dir, delta, keys, out_dir)
    assert stats["files_total"] == stats["files_rewritten"] + stats["files_copied"]
    # The narrow delta touches the first range and the last (overflow
    # key) — at most 3 of 8 files rewritten, the rest copied.
    assert stats["files_rewritten"] <= 3, stats
    assert stats["files_copied"] >= 5, stats

    # (a) content equality vs full re-sort (multiset of full rows).
    want = sorted(map(tuple, li.unionByName(delta).collect()))
    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    assert got == want

    # (b) monotonic non-overlapping ranges in file-name order.
    tup = F.struct(*keys)
    per_file = (
        spark.read.parquet(out_dir)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(tup).alias("lo"), F.max(tup).alias("hi"))
        .orderBy("f")
        .collect()
    )
    for prev, nxt in zip(per_file, per_file[1:]):
        assert tuple(prev.hi) <= tuple(nxt.lo), (prev.hi, nxt.lo)

    # (c) copied files byte-identical to their source counterparts.
    def md5s(d):
        out = {}
        for p in sorted(os.listdir(d)):
            if p.endswith(".parquet"):
                with open(os.path.join(d, p), "rb") as fh:
                    out[p] = hashlib.md5(fh.read()).hexdigest()
        return out

    src_by_idx = list(md5s(base_dir).values())
    merged = md5s(out_dir)
    identical = sum(
        1 for i, p in enumerate(sorted(merged)) if merged[p] == src_by_idx[i]
    )
    assert identical == stats["files_copied"], (identical, stats)

    # (d) rows INSIDE every output file are sorted by the export keys,
    # read in physical file order (pyarrow preserves it). The rewrite
    # job relies on the parquet writer ELIDING its required partition-
    # column sort because the child is pre-sorted by (__file_idx,
    # *keys); if planner drift ever inserts a sort on __file_idx alone
    # (not guaranteed stable), secondary key order inside rewritten
    # files would break SILENTLY without this check (ADVICE r14).
    import pyarrow.parquet as pq

    for p in sorted(os.listdir(out_dir)):
        if not p.endswith(".parquet"):
            continue
        cols = pq.read_table(os.path.join(out_dir, p), columns=keys)
        rows = list(zip(*(cols.column(k).to_pylist() for k in keys)))
        assert rows == sorted(rows), f"intra-file key order broken in {p}"


def test_delete_where_partitioned_rewrites_only_affected_days(
    spark, tmp_path
):
    """io.delete_where_partitioned (GDPR delete): (a) matching rows are
    gone and everything else survives exactly; (b) day-partitions with
    no matches are untouched on disk (byte-identical files); (c) a day
    whose EVERY row matched has its directory removed (the dynamic-
    overwrite delete gap, handled explicitly)."""
    import hashlib
    import os

    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    ev.repartition(1).write.partitionBy("event_date").parquet(out)
    days = sorted(
        r[0] for r in ev.select("event_date").distinct().collect()
    )
    kill_day = days[2]  # fully deleted
    kill_user = ev.filter(F.col("event_date") == days[0]).select(
        "user_id"
    ).first()[0]  # partially deletes a few other days

    def file_md5s():
        out_map = {}
        for root, _dirs, files in os.walk(out):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out_map[os.path.relpath(p, out)] = hashlib.md5(
                            fh.read()
                        ).hexdigest()
        return out_map

    before = file_md5s()
    pred = (F.col("event_date") == F.lit(str(kill_day)).cast("date")) | (
        F.col("user_id") == kill_user
    )
    want = sorted(map(tuple, ev.filter(~pred).collect()))
    from etl_tj_project_spark.io import delete_where_partitioned

    stats = delete_where_partitioned(
        spark, out, pred, partition_col="event_date"
    )
    # (a) content: survivors only, exactly.
    back = spark.read.parquet(out).select(*ev.columns)
    got = sorted(map(tuple, back.collect()))
    assert got == want

    # (c) fully-deleted day directory removed.
    assert not os.path.isdir(
        os.path.join(out, f"event_date={kill_day}")
    )
    assert stats["partitions_removed"] >= 1

    # (b) untouched days byte-identical; affected days changed.
    after = file_md5s()
    affected_days = {
        str(r[0])
        for r in ev.filter(pred).select("event_date").distinct().collect()
    }
    untouched = 0
    for rel, h in after.items():
        day = rel.split("/")[0].split("=", 1)[1]
        if day not in affected_days:
            assert before.get(rel) == h, rel
            untouched += 1
    assert untouched > 0
    assert stats["partitions_rewritten"] == len(affected_days) - 1


def test_merge_assignment_is_range_join_not_case_chain(spark):
    """The delta→file assignment of io.merge_sorted_export must be the
    broadcast range-join (plan O(1) in file count), NOT the r11 literal
    CASE chain (one WHEN per file — Catalyst analysis blows up at
    manifest scale, ~400k files at 100 TB / 256 MB; VERDICT r11 item 4).
    Pins: (a) a broadcast join node is present; (b) NO CaseWhen at all
    in the optimized assignment plan; (c) assignment semantics — below
    every range → file 0, inside a half-open interval → owning file,
    at/above the last lo → last file — each delta row exactly once."""
    from pyspark.sql.types import LongType, StructField, StructType

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    keys = ["l_orderkey", "l_linenumber"]
    key_schema = StructType(
        [StructField(k, LongType(), True) for k in keys]
    )
    lows = [(100, 1), (500, 1), (900, 3)]
    out = tj_io._assign_delta_to_ranges(
        spark, li.limit(50), lows, keys, key_schema
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN" not in optimized, optimized[:2000]

    probe = spark.createDataFrame(
        [(1, 1), (100, 1), (499, 9), (500, 1), (899, 9), (900, 3), (10**9, 1)],
        schema=StructType([StructField(k, LongType(), False) for k in keys]),
    )
    got = {
        (r.l_orderkey, r.l_linenumber): r["__file_idx"]
        for r in tj_io._assign_delta_to_ranges(
            spark, probe, lows, keys, key_schema
        ).collect()
    }
    assert got == {
        (1, 1): 0,       # below every lo → first file
        (100, 1): 0,
        (499, 9): 0,
        (500, 1): 1,
        (899, 9): 1,
        (900, 3): 2,
        (10**9, 1): 2,   # above the last lo → last file
    }, got
    # exactly-once: 7 probes in, 7 rows out (the intervals partition
    # the key space — no row lost, none duplicated).
    assert len(got) == 7


def test_merge_sorted_export_works_through_fs_uris(spark, tmp_path):
    """FS-abstraction pin (VERDICT r11 item 4): merge_sorted_export's
    copy/rename/mkdir/list side effects route through the Hadoop
    FileSystem API, so the whole op must work when BOTH directories are
    addressed as `file:` URIs (the shape every object-store path takes;
    shutil/os.replace would have choked on the scheme prefix)."""
    from etl_tj_project_spark.io import export_sorted, merge_sorted_export

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    keys = ["l_orderkey", "l_linenumber"]
    base = "file:" + str(tmp_path / "base")
    out = "file:" + str(tmp_path / "out")
    export_sorted(li, base, keys, num_files=4)
    lo = li.orderBy(*keys).limit(1).collect()[0]
    delta = spark.createDataFrame(
        [(int(lo.l_orderkey), 99, 1.0)], li.schema
    )
    stats = merge_sorted_export(spark, base, delta, keys, out)
    assert stats["files_total"] == 4
    assert stats["files_copied"] >= 2, stats
    want = sorted(map(tuple, li.unionByName(delta).collect()))
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want


def test_merge_sorted_export_empty_source_falls_back(spark, tmp_path):
    """ADVICE r11: an EMPTY source export used to silently drop every
    delta row (files_total=0 with delta_rows>0). Now it must fall back
    to export_sorted(delta) — the delta becomes the new export."""
    from etl_tj_project_spark.io import merge_sorted_export

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    ).limit(20)
    keys = ["l_orderkey", "l_linenumber"]
    src = str(tmp_path / "empty_base")
    # A source dir containing only a ZERO-ROW parquet file: ranges with
    # NULL min/max must be skipped, leaving no usable range → fallback.
    li.filter(F.lit(False)).coalesce(1).write.parquet(src)
    out = str(tmp_path / "out")
    stats = merge_sorted_export(spark, src, li, keys, out)
    assert stats["delta_rows"] == 20
    assert stats["files_total"] >= 1
    assert stats["files_rewritten"] == stats["files_total"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*li.columns).collect()))
    assert got == sorted(map(tuple, li.collect()))
