"""Record the golden result fingerprints the benchmark checks against.

    python3 perfbench/golden.py

Run from the root of a checkout. Generates the benchmark tables (same
seed and scale as ``run.py``), runs every query of the ``relational``
and ``curation`` workloads in Spark, and collects each result. A query
with oracle SQL is recorded only if DuckDB, running the registry's
oracle SQL (pinned as ``harness.oracle_sql()`` pins it) over the same
Parquet files, returns the same rows. An oracle-less query is built
and run twice and recorded only if both runs agree. For each verified
result, ``golden.json`` stores the row count and the hash that
``check.spark_fingerprint`` computes inside Spark during a run.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())

from perfbench import check, run, workloads  # noqa: E402


def main() -> int:
    run.configure_environment()
    import duckdb

    from etl_tj_project_spark import harness
    from etl_tj_project_spark.schemas import TESTDATA_TABLES
    from etl_tj_project_spark.session import get_spark

    tables_dir = run.ensure_tables(run.DATASET, run.TABLES_SEED, run.TABLES_SCALE)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    spark = get_spark(app_name="perfbench-golden")
    entries, bad = {}, []
    try:
        for name in workloads.RELATIONAL + workloads.CURATION:
            entry = harness.REGISTRY[name]
            df = entry.spark(spark, tables_dir)
            got = check.collected_fingerprint(df)
            if entry.oracle is None:
                want = check.collected_fingerprint(entry.spark(spark, tables_dir))
                source = "repeat run"
            else:
                want = check.duck_fingerprint(con, entry.oracle)
                source = "duckdb oracle"
            status = "ok" if got == want else "MISMATCH"
            print(f"{status:8} {name:40} rows={got['rows']:<7} vs {source}", flush=True)
            if got != want:
                bad.append(name)
            entries[name] = {**check.spark_fingerprint(df), "verified_by": source}
    finally:
        run.stop_spark(spark)
        con.close()
    if bad:
        print(f"not written: {len(bad)} mismatches: {bad}", file=sys.stderr)
        return 1
    with open(check.GOLDEN_PATH, "w") as f:
        json.dump({"dataset": run.DATASET, "entries": entries}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {check.GOLDEN_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
