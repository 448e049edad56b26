"""The reuse layer's memos are scoped to one SparkContext: after
``spark.stop()`` and a new session, a count or a constructed Column
from the earlier session is never served.

Runs in a subprocess because it stops its session, and the suite's
shared ``spark`` fixture must survive.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from etl_tj_project_spark.functions.vectors import cosine_similarity
from etl_tj_project_spark.operators import dedup


def session():
    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


path = {path!r}
pq.write_table(pa.table({{"n": list(range(3))}}), path)
a = session()
assert dedup._count_once(a.read.parquet(path)) == 3
col_a = cosine_similarity("x", "y")
a.stop()

pq.write_table(pa.table({{"n": list(range(5))}}), path)
b = session()
n = dedup._count_once(b.read.parquet(path))
assert n == 5, f"stale count {{n}} served from the previous session"
assert cosine_similarity("x", "y") is not col_a, "stale Column served"
b.stop()
print("REUSE_SCOPE_OK")
"""


def test_memos_do_not_outlive_their_spark_context(tmp_path):
    script = _SCRIPT.format(repo=REPO, path=str(tmp_path / "rows.parquet"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "REUSE_SCOPE_OK" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-2000:]}"
    )
