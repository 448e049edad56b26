"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The first group needs no Spark. The last test starts a local session
and runs one registry query against the benchmark tables.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import datagen, run, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_and_workload_names_and_units_are_pinned():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == ["curation", "daily_etl"]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_UNITS
    assert list(run.END_TO_END_UNITS) == ["setup_s", "cold_pass_cpu_s", "pass_cpu_s"]
    assert list(run.RUN_UNITS) == [
        "cold_pass_s", "pass_s", "item_p50_s", "item_tail_s", "jvm_peak_rss_mb", "fail_ratio",
    ]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_seed_permutes_query_items_and_nothing_else():
    for name, items in (("relational", workloads.RELATIONAL), ("curation", workloads.CURATION)):
        orders = {tuple(workloads.make(name, seed).items) for seed in range(8)}
        assert len(orders) > 1, f"{name}: the seed never changed the order"
        assert all(sorted(o) == sorted(items) for o in orders)
        assert tuple(workloads.make(name, 5).items) == tuple(workloads.make(name, 5).items)
    # The tables, and the golden values they are checked against, come
    # from a fixed seed; the workload seed only orders the items.
    assert run.DATASET == f"tables-v2-seed{run.TABLES_SEED}-scale{run.TABLES_SCALE}"


def test_tables_are_deterministic_and_match_the_testdata_schemas():
    a = datagen.make_tables(7, 0.1)
    b = datagen.make_tables(7, 0.1)
    c = datagen.make_tables(8, 0.1)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    from etl_tj_project_spark.schemas import TESTDATA_TABLES

    assert sorted(a) == sorted(TESTDATA_TABLES)
    for name, table in a.items():
        assert table.schema.equals(datagen.SCHEMAS[name]), name


def test_daily_csvs_are_seeded_and_keep_the_reference_edge_cases(tmp_path):
    days = list(range(1, 32))
    one = datagen.make_daily_csvs(3, 1, days)
    assert one == datagen.make_daily_csvs(3, 1, days)
    assert one["dummy_transaksi_bus"] != datagen.make_daily_csvs(4, 1, days)["dummy_transaksi_bus"]

    import duckdb

    from etl_tj_project_spark.functions.cleaning import norm_body_sql

    datagen.write_daily_csvs(str(tmp_path), 3, 1, days)
    con = duckdb.connect()

    def read(stem: str) -> str:
        return f"read_csv('{tmp_path}/{stem}.csv', all_varchar=true, header=true)"

    raw, normed = con.sql(
        f"SELECT count(DISTINCT bus_body_no), count(DISTINCT {norm_body_sql('bus_body_no')}) "
        f"FROM {read('dummy_realisasi_bus')}"
    ).fetchone()
    assert normed < raw, "no dirty body numbers collide after normalisation"
    mdy = con.sql(
        f"SELECT count(*) FROM {read('dummy_realisasi_bus')} "
        r"WHERE regexp_matches(tanggal_realisasi, '^\d/\d{1,2}/\d{4}$')"
    ).fetchone()[0]
    assert mdy > 0, "no M/D/YYYY dates"
    empty = con.sql(
        f"SELECT count(*) FROM {read('dummy_shelter_corridor')} "
        "WHERE corridor_code IS NULL OR corridor_code = ''"
    ).fetchone()[0]
    assert empty > 0, "no '' corridors"
    f_rows = con.sql(
        f"SELECT count(*) FROM {read('dummy_transaksi_halte')} WHERE status_var = 'F'"
    ).fetchone()[0]
    assert f_rows > 0, "no F-status rows"
    assert con.sql(f"SELECT count(*) FROM {read('dummy_transaksi_bus')}").fetchone()[0] == 515


def test_tail_has_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 41)]
    v, pct, n = run.tail(values)
    assert sum(1 for x in values if x > v) == 10
    assert (n, pct) == (40, 75.0)


def test_self_time_subtracts_direct_children():
    spans = [
        tracing.Span(0, "item", "i", None, "g0", 0.0, 10.0),
        tracing.Span(1, "harness.construct", "i", 0, "g1", 1.0, 5.0),
        tracing.Span(2, "sources.load_table", "i", 1, "g2", 2.0, 3.0),
        tracing.Span(3, "operators.execute", "i", 0, "g3", 5.0, 9.0),
    ]
    assert tracing.self_times(spans) == {0: 2.0, 1: 3.0, 2: 1.0, 3: 4.0}


def test_jvm_cpu_counts_no_compiler_threads_in_a_python_process():
    meter = tracing.JvmCpu(os.getpid(), interval=0.01)
    try:
        total, jit = meter.read()
        assert total > 0 and jit == 0
    finally:
        meter.close()


@pytest.fixture(scope="module")
def spark():
    run.configure_environment()
    from etl_tj_project_spark.session import get_spark

    session = get_spark(app_name="perfbench-test")
    yield session
    run.stop_spark(session)


def test_corrupted_golden_fingerprint_counts_as_failure(spark):
    tables_dir = run.ensure_tables(run.DATASET, run.TABLES_SEED, run.TABLES_SCALE)
    tracer = tracing.Tracer(spark, enabled=False, tag="perfbench-test")
    jvm_cpu = tracing.JvmCpu(tracing.jvm_pid(spark))
    ctx = workloads.Ctx(spark, tracer, jvm_cpu, run.WORK, tables_dir, run.DATASET, 0)
    wl = workloads.QueryWorkload("relational", ["tpch_q3_shipping_priority"], 0)
    wl.prepare(ctx)

    errors: list[str] = []
    try:
        st = run.run_pass(wl, ctx, 0, True, errors)
        assert (st.failed, errors) == (0, [])
        assert st.cpu > 0 and st.jit_cpu > 0  # the JVM compiled while the query ran

        good = wl.golden["tpch_q3_shipping_priority"]
        wl.golden = {"tpch_q3_shipping_priority": {**good, "hash": good["hash"] + "0"}}
        st = run.run_pass(wl, ctx, 1, True, errors)
    finally:
        jvm_cpu.close()
    fail_ratio = st.failed / len(st.item_times)
    assert fail_ratio > 0
    assert "wrong result" in errors[0]
