"""The benchmark's workloads: what one item is, what a pass runs before
its items, and how each item's result is checked.

* ``relational`` and ``curation``: an item is one registry query, built
  by ``REGISTRY[name].spark(spark, data_dir)`` and forced with a
  noop-sink write; the check compares the result's row count and
  fingerprint with ``golden.json``.
* ``daily_etl``: an item is one logical day of ``plans.daily.run_daily``
  with the atomic three-table commit, followed by the read-back counts;
  the cold pass first runs ``load_dims`` and ``raw_trx_from_csv``. The
  check compares each committed day partition with a DuckDB restatement.
"""

from __future__ import annotations

import os
import random
import shutil

from perfbench import check

# Reference read surface plus the heaviest TPC-H shapes. Execution
# dominates and the reuse layer is idle.
RELATIONAL = [
    "p1_typed_projection",
    "j1_inner_join_fanout",
    "u2_two_branch_union_agg",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q8_market_share",
    "tpch_q18_large_orders",
    "tpch_q21ish_lone_late_supplier",
]
# Dedup / graph / ANN / text curation: construction-heavy, and the only
# workload where the reuse layer (artifact store, persist and count
# memos) is used.
CURATION = [
    "dedup_minhash_lsh",
    "dedup_jaccard_canonical",
    "graph_triangle_count_canonical",
    "dedup_lcc_second_pass",
    "ann_ivf_trained_topk",
]
# Warm-up queries, run on the small warm-up tables only.
WARMUP = ["a1_agg_by_card"]

DAILY_DAYS_PER_PASS = 4
DAILY_VOLUME = 20  # times the reference's fact-row counts
DAILY_ALL_DAYS = list(range(1, 32))  # fact rows are spread over July 2025


class Ctx:
    """What a workload needs at run time."""

    def __init__(self, spark, tracer, jvm_cpu, work_dir: str, tables_dir: str, dataset: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.jvm_cpu = jvm_cpu
        self.work_dir = work_dir
        self.tables_dir = tables_dir
        self.dataset = dataset
        self.seed = seed


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    def __init__(self, name: str, names: list[str], seed: int):
        self.name = name
        self.items = list(names)
        random.Random(seed).shuffle(self.items)

    def prepare(self, ctx: Ctx) -> None:
        from etl_tj_project_spark import harness

        self.registry = harness.REGISTRY
        self.golden = check.load_golden(ctx.dataset)
        missing = [n for n in self.items if n not in self.golden]
        if missing:
            raise RuntimeError(f"no golden values for {missing}")

    def prelude(self, ctx: Ctx) -> None:
        pass

    def run_item(self, ctx: Ctx, name: str, item_id: str):
        with ctx.tracer.span("harness.construct", item_id):
            df = self.registry[name].spark(ctx.spark, ctx.tables_dir)
        with ctx.tracer.span("operators.execute", item_id):
            noop_write(df)
        return df

    def check_item(self, ctx: Ctx, name: str, df) -> str | None:
        got = check.spark_fingerprint(df)
        want = self.golden[name]
        if got != {"rows": want["rows"], "hash": want["hash"]}:
            return f"{name}: got {got}, golden {want}"
        return None


class DailyWorkload:
    name = "daily_etl"

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.items = [f"2025-07-{d:02d}" for d in rng.sample(DAILY_ALL_DAYS, DAILY_DAYS_PER_PASS)]

    def prepare(self, ctx: Ctx) -> None:
        from etl_tj_project_spark.plans.daily import Warehouse

        from perfbench import datagen

        # Inputs are rewritten by every run: a seed rarely repeats, so a
        # per-seed cache would only grow.
        base = os.path.join(ctx.work_dir, "daily")
        shutil.rmtree(base, ignore_errors=True)
        self.data_dir = os.path.join(base, "csv")
        datagen.write_daily_csvs(self.data_dir, ctx.seed, DAILY_VOLUME, DAILY_ALL_DAYS)
        self.wh = Warehouse(os.path.join(base, "warehouse"))
        self.expected = check.daily_expected(self.data_dir, self.items)

    def prelude(self, ctx: Ctx) -> None:
        from etl_tj_project_spark.plans import daily

        with ctx.tracer.span("plans.daily.load_dims", "prelude"):
            self.dims = daily.load_dims(ctx.spark, self.data_dir, self.wh)
        with ctx.tracer.span("plans.daily.raw_trx_from_csv", "prelude"):
            self.bus_raw, self.halte_raw = daily.raw_trx_from_csv(ctx.spark, self.data_dir)

    def run_item(self, ctx: Ctx, ds: str, item_id: str):
        from pyspark.sql import functions as F

        from etl_tj_project_spark.plans import daily

        with ctx.tracer.span("plans.daily.run_daily", item_id):
            daily.run_daily(
                ctx.spark, ds,
                bus_raw=self.bus_raw, halte_raw=self.halte_raw,
                routes=self.dims["routes"], realisasi_bus=self.dims["realisasi_bus"],
                shelter_corridor=self.dims["shelter_corridor"], wh=self.wh,
            )
        with ctx.tracer.span("io.read_back", item_id):
            counts = {
                t: ctx.spark.read.parquet(self.wh.agg(t))
                .where(F.col("tanggal") == F.lit(ds).cast("date")).count()
                for t in check.DAILY_TABLES
            }
        return counts

    def check_item(self, ctx: Ctx, ds: str, counts) -> str | None:
        for t in check.DAILY_TABLES:
            got = check.daily_actual(ctx.spark, self.wh.agg(t), ds)
            want = self.expected[(ds, t)]
            if got != want or counts[t] != want["rows"]:
                return f"{ds} {t}: got {got} (read-back {counts[t]}), expected {want}"
        return None

    def day_files(self, ds: str) -> tuple[int, float]:
        """Data files, and their MB, that the commit published for ``ds``."""
        n, size = 0, 0
        for t in check.DAILY_TABLES:
            part = os.path.join(self.wh.agg(t), f"tanggal={ds}")
            for f in os.listdir(part) if os.path.isdir(part) else []:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(part, f))
        return n, size / 1e6


def make(name: str, seed: int):
    if name == "relational":
        return QueryWorkload(name, RELATIONAL, seed)
    if name == "curation":
        return QueryWorkload(name, CURATION, seed)
    if name == "daily_etl":
        return DailyWorkload(seed)
    raise ValueError(f"unknown workload {name!r}")
