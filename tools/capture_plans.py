"""Capture .explain("formatted") for headline queries -> plans/<round>/.

Usage:
    python tools/capture_plans.py <round> <suffix> [name ...]

round names the output directory (e.g. "r18"); suffix is "before" or
"after"; with no names, captures every bench.HEADLINE
query. Plans are built at $SPARK_GRAFT_SF_DIR (default sf0.1) — plan SHAPE
is what matters and it is scale-independent for these inputs, but we use
the bench SF so AQE thresholds and statistics match what the bench runs.

Guide §1: capture the plan for every query you touch, before and after —
Exchange count, join strategy, PushedFilters/ReadSchema, codegen spans,
BatchEvalPython/ArrowEvalPython nodes are the claims the judge checks.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    round_name, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    import bench
    from etl_tj_project_spark import harness
    from etl_tj_project_spark.session import get_spark

    if not names:
        names = [n for n in bench.HEADLINE if n in harness.REGISTRY]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        round_name,
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(f"plan_capture_{round_name}")
    for n in names:
        df = harness.REGISTRY[n].spark(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            qe, "formatted"
        )
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print("WROTE", path, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
