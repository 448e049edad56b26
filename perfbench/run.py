"""Benchmark entry point.

    python3 perfbench/run.py --workload {relational,curation,daily_etl}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Closed loop, one client: one driver
runs the workload's items one after another on ``local[<cores>]``.
The first pass after set-up is the cold pass; later passes repeat it
until ``--seconds`` of measurement are used (at least ``MIN_WARM``
warm passes). Inputs are generated from fixed or ``--seed`` seeds
under ``.bench_build/perfbench``; nothing is read or written outside
the checkout.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records
spans around each layer call and prints the per-layer metrics. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

TABLES_SEED = 20240601
TABLES_SCALE = 1.0  # sf0.01 shape
WARMUP_SCALE = 0.1  # sf0.001 shape
# The first warm pass, on which results are also checked, often runs
# slower than later ones, and the JVM keeps compiling for minutes, so
# later passes keep getting cheaper: pass_cpu_s is the median of the
# first three warm passes, whatever the number of passes that fit.
MIN_WARM = 3
DATASET = f"tables-v2-seed{TABLES_SEED}-scale{TABLES_SCALE}"
WARMUP_DATASET = f"tables-v2-seed{TABLES_SEED + 1}-scale{WARMUP_SCALE}"
# Per-layer metrics of one pass. A traced run reports each for the first
# traced warm pass under its own name and for the cold pass with a
# ".cold" suffix.
PASS_LAYER_UNITS = {
    "harness.construct_s": "s",
    "harness.construct_self_s": "s",
    "harness.construct_jobs": "count",
    "sources.load_table_s": "s",
    "sources.load_table_calls": "count",
    "operators.execute_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.shuffle_records": "count",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.cpu_s": "s",
    "operators.task_skew": "ratio",
    "jvm.cpu_s": "s",
    "jvm.jit_cpu_s": "s",
    "reuse.artifact_hits": "count",
    "reuse.artifact_misses": "count",
    "reuse.persist_hits": "count",
    "reuse.persist_misses": "count",
    "reuse.count_hits": "count",
    "reuse.count_misses": "count",
    "reuse.persisted_rdds": "count",
    "reuse.storage_mb": "MB",
    "plans.daily.load_dims_s": "s",
    "plans.daily.run_daily_s": "s",
    "plans.daily.run_daily_self_s": "s",
    "io.commit_partitions_atomic_s": "s",
    "io.read_back_s": "s",
    "io.files_written": "count",
    "io.bytes_written_mb": "MB",
}
# Gated end-to-end metrics: what a user waits for or pays, steady from
# run to run. Pass costs are CPU seconds of the Spark JVM plus the
# Python driver: on a shared host, other load stretches a pass's wall
# time far more than its CPU time.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "pass_cpu_s": "s",
}
# Also seen by a user, and printed by every run, but not gated: pass
# wall times and item latencies follow the host's load, the JVM's peak
# RSS varies by more than the bound from run to run, and fail_ratio is
# 0 on a correct run. A traced run reports them with the per-layer
# metrics.
RUN_UNITS = {
    "cold_pass_s": "s",
    "pass_s": "s",
    "item_p50_s": "s",
    "item_tail_s": "s",
    "jvm_peak_rss_mb": "MB",
    "fail_ratio": "ratio",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    **RUN_UNITS,
    **PASS_LAYER_UNITS,
    **{f"{k}.cold": u for k, u in PASS_LAYER_UNITS.items()},
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["relational", "curation", "daily_etl"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_environment() -> None:
    """Keep every scratch file Spark and the package make inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.pop("TJ_SHARED_ARTIFACTS_DIR", None)  # the artifact store stays per-process
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def ensure_tables(name: str, seed: int, scale: float) -> str:
    from perfbench import datagen

    out = os.path.join(WORK, "data", name)
    if not os.path.exists(os.path.join(out, "_done")):
        staging = out + ".tmp"
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        datagen.write_tables(staging, seed, scale)
        open(os.path.join(staging, "_done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(staging, out)
    return out


def set_up(warmup_dir: str):
    """Start the session and warm it up on the warm-up tables. Returns
    (spark, get_spark seconds, warm-up seconds)."""
    from etl_tj_project_spark import harness
    from etl_tj_project_spark.session import get_spark

    from perfbench.workloads import WARMUP, noop_write

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    for name in WARMUP:
        noop_write(harness.REGISTRY[name].spark(spark, warmup_dir))
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count)."""
    s = sorted(values)
    n = len(s)
    k = max(n - 11, 0)  # ten samples lie above index n-11
    return s[k], 100.0 * (k + 1) / n, n


class PassStats:
    def __init__(self, traced: bool):
        self.traced = traced
        self.wall = 0.0
        self.cpu = 0.0
        self.jit_cpu = 0.0
        self.item_times: list[float] = []
        self.failed = 0
        self.persisted_rdds = 0
        self.artifact = {"hit": 0, "miss": 0}
        self.layer: dict[str, float] = {}


def run_pass(wl, ctx, index: int, check: bool, errors: list[str], patches=None) -> PassStats:
    from etl_tj_project_spark import harness_r12

    from perfbench import tracing

    tracer = ctx.tracer
    st = PassStats(tracer.enabled)
    mark = tracer.mark()
    ev0 = len(harness_r12.ARTIFACT_EVENTS)
    reuse0 = (dict(patches.persist), dict(patches.count)) if patches else None
    check_s = check_cpu = 0.0

    def cpu() -> tuple[float, float]:
        """(CPU seconds outside JIT compilation, JIT CPU seconds): the
        JVM's threads and this driver's own thread."""
        total, jit = ctx.jvm_cpu.read()
        return total - jit + time.thread_time(), jit

    cpu0 = cpu()
    t0 = time.perf_counter()
    if index == 0:
        wl.prelude(ctx)
    files, mb = 0, 0.0
    for name in wl.items:
        item_id = f"p{index}:{name}"
        ti = time.perf_counter()
        try:
            with tracer.span("item", item_id):
                out = wl.run_item(ctx, name, item_id)
        except Exception as e:  # one failing item must not stop the run
            st.item_times.append(time.perf_counter() - ti)
            st.failed += 1
            errors.append(f"{item_id}: {type(e).__name__}: {e}".splitlines()[0])
            continue
        st.item_times.append(time.perf_counter() - ti)
        if tracer.enabled and hasattr(wl, "day_files"):
            f, m = wl.day_files(name)
            files, mb = files + f, mb + m
        if check:
            tc, cc = time.perf_counter(), cpu()
            ctx.spark.sparkContext.setJobGroup(f"{tracer.tag}/check", "check")
            problem = wl.check_item(ctx, name, out)
            tracer.clear_group()
            if problem:
                st.failed += 1
                errors.append(f"{item_id}: wrong result: {problem}")
            check_s += time.perf_counter() - tc
            check_cpu += cpu()[0] - cc[0]
    st.wall = time.perf_counter() - t0 - check_s
    cpu1 = cpu()
    st.cpu = cpu1[0] - cpu0[0] - check_cpu
    st.jit_cpu = cpu1[1] - cpu0[1]
    st.persisted_rdds = tracing.persisted_rdds(ctx.spark)
    for _table, kind in harness_r12.ARTIFACT_EVENTS[ev0:]:
        st.artifact[kind] += 1
    if tracer.enabled:
        st.layer = layer_metrics(ctx, tracer.since(mark), files, mb)
        st.layer["reuse.artifact_hits"] = st.artifact["hit"]
        st.layer["reuse.artifact_misses"] = st.artifact["miss"]
        st.layer["reuse.persist_hits"] = patches.persist["hit"] - reuse0[0]["hit"]
        st.layer["reuse.persist_misses"] = patches.persist["miss"] - reuse0[0]["miss"]
        st.layer["reuse.count_hits"] = patches.count["hit"] - reuse0[1]["hit"]
        st.layer["reuse.count_misses"] = patches.count["miss"] - reuse0[1]["miss"]
        st.layer["reuse.persisted_rdds"] = st.persisted_rdds
        st.layer["reuse.storage_mb"] = tracing.storage_mb(ctx.spark)
        st.layer["jvm.cpu_s"] = st.cpu
        st.layer["jvm.jit_cpu_s"] = st.jit_cpu
    return st


def layer_metrics(ctx, spans, files: int, mb: float) -> dict[str, float]:
    from perfbench import tracing

    by_id = {s.span_id: s for s in spans}
    selft = tracing.self_times(spans)

    def under(span, name: str) -> bool:
        while span is not None:
            if span.name == name:
                return True
            span = by_id.get(span.parent)
        return False

    def total(name: str) -> float:
        return sum(s.duration for s in spans if s.name == name)

    construct_jobs = [j for s in spans if under(s, "harness.construct") for j in s.jobs]
    other_jobs = [j for s in spans if not under(s, "harness.construct") for j in s.jobs]
    ops = tracing.stage_counters(ctx.spark, other_jobs)
    m = {
        "harness.construct_s": total("harness.construct"),
        "harness.construct_self_s": sum(selft[s.span_id] for s in spans if s.name == "harness.construct"),
        "harness.construct_jobs": len(construct_jobs),
        "sources.load_table_s": total("sources.load_table"),
        "sources.load_table_calls": sum(1 for s in spans if s.name == "sources.load_table"),
        "operators.execute_s": total("operators.execute"),
        "plans.daily.load_dims_s": total("plans.daily.load_dims"),
        "plans.daily.run_daily_s": total("plans.daily.run_daily"),
        "plans.daily.run_daily_self_s": sum(selft[s.span_id] for s in spans if s.name == "plans.daily.run_daily"),
        "io.commit_partitions_atomic_s": total("io.commit_partitions_atomic"),
        "io.read_back_s": total("io.read_back"),
        "io.files_written": files,
        "io.bytes_written_mb": mb,
    }
    for k, v in ops.items():
        m[f"operators.{k}"] = v
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    configure_environment()
    try:
        import etl_tj_project_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from perfbench import tracing, workloads

    warmup_dir = ensure_tables(WARMUP_DATASET, TABLES_SEED + 1, WARMUP_SCALE)
    tables_dir = ensure_tables(DATASET, TABLES_SEED, TABLES_SCALE)

    wl = workloads.make(args.workload, args.seed)
    t_setup0 = time.perf_counter()
    spark, get_spark_s, warmup_s = set_up(warmup_dir)
    setup_s = time.perf_counter() - t_setup0
    errors: list[str] = []
    passes: list[PassStats] = []
    tag = f"perfbench-{args.workload}-{args.seed}"
    tracer = tracing.Tracer(spark, enabled=bool(args.trace), tag=tag)
    patches = tracing.Patches(tracer) if args.trace else None
    jvm_cpu = tracing.JvmCpu(tracing.jvm_pid(spark))
    try:
        ctx = workloads.Ctx(spark, tracer, jvm_cpu, WORK, tables_dir, DATASET, args.seed)
        wl.prepare(ctx)
        if patches:
            import importlib

            from etl_tj_project_spark import harness

            mods = sorted({e.spark.__module__ for e in harness.REGISTRY.values()})
            harness_modules = [importlib.import_module(m) for m in mods]
        t_measure = time.perf_counter()
        index = 0
        while True:
            traced = bool(args.trace) and (index == 0 or index % 2 == 1)
            tracer.enabled = traced
            if traced:
                patches.install(harness_modules)
            try:
                st = run_pass(wl, ctx, index, index <= 1, errors, patches if traced else None)
            finally:
                if patches:
                    patches.restore()
            passes.append(st)
            print(
                f"pass {index} {'cold' if index == 0 else 'warm'}{' traced' if traced else ''}: "
                f"{st.wall:.3f} s, cpu {st.cpu:.2f} s, jit {st.jit_cpu:.2f} s, {len(st.item_times)} items, {st.failed} failed, "
                f"persisted_rdds={st.persisted_rdds}, artifact hits={st.artifact['hit']} "
                f"misses={st.artifact['miss']}",
                flush=True,
            )
            index += 1
            elapsed = time.perf_counter() - t_measure
            warm = index - 1
            if warm >= MIN_WARM and elapsed + passes[-1].wall > args.seconds:
                break
        jvm_rss = tracing.jvm_peak_rss_mb(spark)
        if args.trace:
            os.makedirs(WORK, exist_ok=True)
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        jvm_cpu.close()
        stop_spark(spark)

    cold, warm = passes[0], passes[1:]
    if args.workload == "curation" and cold.artifact["miss"] == 0:
        errors.append("cold pass had no artifact-store misses: the reuse store was not cold")
    attempted = sum(len(p.item_times) for p in passes)
    failed = sum(p.failed for p in passes)
    # Item latencies from a fixed number of passes, so the sample count
    # (and with it the tail percentile) is the same on every run.
    items = [t for p in passes[: 1 + MIN_WARM] for t in p.item_times]
    tail_v, tail_pct, tail_n = tail(items)

    plain_warm = [p for p in warm if not p.traced]
    run_metrics = {
        "cold_pass_s": cold.wall,
        "pass_s": statistics.median(p.wall for p in plain_warm),
        "item_p50_s": statistics.median(items),
        "item_tail_s": tail_v,
        "jvm_peak_rss_mb": jvm_rss,
        "fail_ratio": failed / attempted,
    }
    if args.trace:
        traced_warm = [p for p in warm if p.traced]
        metrics = {"session.get_spark_s": get_spark_s, "session.warmup_s": warmup_s, **run_metrics}
        metrics.update(traced_warm[0].layer)
        metrics.update({f"{k}.cold": v for k, v in cold.layer.items()})
        metrics["trace.overhead_s"] = (
            statistics.median(p.wall for p in traced_warm)
            - statistics.median(p.wall for p in plain_warm)
        )
        units = PER_LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_cpu_s": cold.cpu,
            "pass_cpu_s": statistics.median(p.cpu for p in warm[:MIN_WARM]),
        }
        units = END_TO_END_UNITS
        print(f"set-up: get_spark {get_spark_s:.3f} s, warm-up {warmup_s:.3f} s")
        for k, v in run_metrics.items():
            print(f"{k:<40} {v:.6g} {RUN_UNITS[k]}  (not gated)")
    print(f"item_tail_s is p{tail_pct:.1f} of {tail_n} items")

    if set(metrics) != set(units):
        raise RuntimeError(f"metric set drifted: {sorted(set(metrics) ^ set(units))}")
    for e in errors:
        print(f"ERROR {e}")
    for k, v in metrics.items():
        print(f"{k:<40} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
