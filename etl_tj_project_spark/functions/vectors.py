"""Vector (embedding) expression builders — dot product, norms, cosine.

Operates on ``array<float>``/``array<double>`` columns with built-in
higher-order functions (``zip_with`` + ``aggregate``), which execute
JVM-side per row — no Python transfer. Elements are cast to double and
accumulated left-to-right, which is the same evaluation order DuckDB's
list functions use, so a SQL oracle reproduces results bit-for-bit.

At 100 TB the brute-force path is a broadcast of the (tiny) query vector
against a fully parallel scan; see operators/similarity.py for the
LSH-bucketed scale path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_tj_project_spark.reuse import expr_once


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sum of elementwise products, accumulated in array order."""
    prods = F.zip_with(
        _as_double(_col(a)), _as_double(_col(b)), lambda x, y: x * y
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm_sq(a: Column | str) -> Column:
    return dot_product(a, a)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(l2_norm_sq(a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm.

    When both inputs are column NAMES the constructed expression is
    memoized (see reuse.expr_once) — it costs ~45 py4j round trips to
    build and is identical for every (a, b) pair of names."""
    if isinstance(a, str) and isinstance(b, str):
        return expr_once(
            ("cosine", a, b), lambda: _cosine_col(F.col(a), F.col(b))
        )
    return _cosine_col(_col(a), _col(b))


def _cosine_col(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot_product(a, b) / denom)


# --- ANSI/DuckDB SQL twins (same accumulation order) ----------------------

def dot_product_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def cosine_similarity_sql(a: str, b: str) -> str:
    dot = dot_product_sql(a, b)
    na = f"sqrt({dot_product_sql(a, a)})"
    nb = f"sqrt({dot_product_sql(b, b)})"
    return f"CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) END"
