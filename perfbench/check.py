"""Result checks: an order-insensitive fingerprint of a result, the
golden values it is compared with, and a DuckDB restatement of the
daily pipeline's reference semantics.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "golden.json")


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        # 9 significant digits: sums of doubles taken in another order
        # differ in the last bits between runs and between engines.
        s = f"{v:.9g}"
        return "0" if s == "-0" else s
    if isinstance(v, Decimal):
        return _cell(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(columns: list[str], rows: list[tuple]) -> dict:
    """Row count plus a hash of the rows normalised (columns sorted by
    lower-cased name, cells rendered, rows sorted)."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(rows), "hash": h.hexdigest()[:32]}


def _pinned(df):
    """The result with its output representation pinned the way the
    oracle comparison pins it (DECIMAL → DOUBLE)."""
    from etl_tj_project_spark import parity

    return parity.pin_spark_output(df)


def collected_fingerprint(df) -> dict:
    """``fingerprint`` of a Spark result, computed on the driver."""
    pinned = _pinned(df)
    return fingerprint(pinned.columns, [tuple(r) for r in pinned.collect()])


def spark_fingerprint(df) -> dict:
    """Row count plus an order-insensitive hash computed inside Spark
    (one aggregate job, nothing collected): the sum of a 64-bit hash of
    each row rendered as text, doubles at 9 significant digits."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    pinned = _pinned(df)
    cells = []
    for f in sorted(pinned.schema.fields, key=lambda f: f.name.lower()):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.9g", c.cast("double") + F.lit(0.0))  # + 0.0 folds -0.0
        cells.append(F.coalesce(c.cast("string"), F.lit("NULL")))
    row_hash = F.xxhash64(F.concat_ws("\x1f", *cells)) if cells else F.lit(0)
    r = pinned.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(row_hash.cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).first()
    names = ",".join(sorted(c.lower() for c in pinned.columns))
    return {"rows": int(r["n"]), "hash": f"{names}:{r['h']}"}


def duck_fingerprint(con, sql: str) -> dict:
    from etl_tj_project_spark import parity

    rel = con.sql(parity.pin_oracle_sql(con, sql))
    return fingerprint(list(rel.columns), rel.fetchall())


def load_golden(dataset: str) -> dict[str, dict]:
    with open(GOLDEN_PATH) as f:
        data = json.load(f)
    if data.get("dataset") != dataset:
        raise RuntimeError(
            f"golden.json was recorded for dataset {data.get('dataset')!r}, "
            f"not {dataset!r}; regenerate with `python3 perfbench/golden.py`"
        )
    return data["entries"]


# --------------------------------------------------------------------------
# Daily pipeline: DuckDB restatement of the reference semantics
# --------------------------------------------------------------------------

DAILY_TABLES = ("agg_by_card", "agg_by_route", "agg_by_tariff")


def daily_expected(data_dir: str, days: list[str]) -> dict[tuple[str, str], dict]:
    """Fingerprint of each aggregate table for each day, computed by
    DuckDB from the raw CSVs: typed dims (DAG 1), typed transaction
    views, the S-status day filter and the three aggregates (DAG 2)."""
    import duckdb

    from etl_tj_project_spark.functions.cleaning import norm_body_sql, to_bool_safe_sql

    con = duckdb.connect()
    try:
        for name in ("dummy_routes", "dummy_shelter_corridor", "dummy_realisasi_bus",
                     "dummy_transaksi_bus", "dummy_transaksi_halte"):
            con.sql(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_csv('{data_dir}/{name}.csv', all_varchar=true, header=true)"
            )
        con.sql(
            "CREATE VIEW routes_d AS SELECT trim(route_code) AS route_code, route_name "
            "FROM dummy_routes WHERE route_code IS NOT NULL"
        )
        con.sql(
            "CREATE VIEW shelter_d AS SELECT trim(shelter_name_var) AS shelter_name_var, "
            "TRY_CAST(nullif(trim(corridor_code), '') AS INTEGER) AS corridor_code "
            "FROM dummy_shelter_corridor WHERE shelter_name_var IS NOT NULL"
        )
        con.sql(
            "CREATE VIEW realisasi_d AS SELECT "
            f"{norm_body_sql('bus_body_no')} AS bus_body_no_norm, rute_realisasi "
            "FROM dummy_realisasi_bus"
        )
        common = (
            "CAST(TRY_CAST(waktu_transaksi AS TIMESTAMP) AS DATE) AS tanggal, "
            "upper(card_type_var) AS card_type, "
            "TRY_CAST(fare_int AS DECIMAL(18,2)) AS amount, "
            "upper(status_var) AS status_var, "
            f"{to_bool_safe_sql('gate_in_boo')} AS gate_in_boo"
        )
        con.sql(
            f"CREATE TABLE vw_bus AS SELECT {common}, "
            f"{norm_body_sql('no_body_var')} AS no_body_norm FROM dummy_transaksi_bus"
        )
        con.sql(
            f"CREATE TABLE vw_halte AS SELECT {common}, shelter_name_var "
            "FROM dummy_transaksi_halte"
        )
        out = {}
        for ds in days:
            bus = f"(SELECT * FROM vw_bus WHERE status_var = 'S' AND tanggal = DATE '{ds}')"
            halte = f"(SELECT * FROM vw_halte WHERE status_var = 'S' AND tanggal = DATE '{ds}')"
            sql = {
                "agg_by_card": f"""
                    SELECT tanggal, card_type, gate_in_boo, COUNT(*) AS pelanggan_count,
                           CAST(SUM(amount) AS DECIMAL(18,2)) AS amount_sum
                    FROM (SELECT tanggal, card_type, amount, gate_in_boo FROM {bus}
                          UNION ALL
                          SELECT tanggal, card_type, amount, gate_in_boo FROM {halte})
                    GROUP BY tanggal, card_type, gate_in_boo""",
                "agg_by_route": f"""
                    SELECT tanggal, route_code, route_name, gate_in_boo,
                           COUNT(*) AS pelanggan_count,
                           CAST(SUM(amount) AS DECIMAL(18,2)) AS amount_sum
                    FROM (
                      SELECT b.tanggal, CAST(rb.rute_realisasi AS VARCHAR) AS route_code,
                             r.route_name, b.gate_in_boo, b.amount
                      FROM {bus} b
                      JOIN realisasi_d rb ON rb.bus_body_no_norm = b.no_body_norm
                      LEFT JOIN routes_d r ON r.route_code = CAST(rb.rute_realisasi AS VARCHAR)
                      UNION ALL
                      SELECT h.tanggal, CAST(sc.corridor_code AS VARCHAR) AS route_code,
                             r.route_name, h.gate_in_boo, h.amount
                      FROM {halte} h
                      LEFT JOIN shelter_d sc ON sc.shelter_name_var = h.shelter_name_var
                      LEFT JOIN routes_d r ON r.route_code = CAST(sc.corridor_code AS VARCHAR))
                    GROUP BY tanggal, route_code, route_name, gate_in_boo""",
                "agg_by_tariff": f"""
                    SELECT tanggal, amount AS tarif, gate_in_boo, COUNT(*) AS pelanggan_count
                    FROM (SELECT tanggal, amount, gate_in_boo FROM {bus}
                          UNION ALL
                          SELECT tanggal, amount, gate_in_boo FROM {halte})
                    GROUP BY tanggal, amount, gate_in_boo""",
            }
            for table, q in sql.items():
                out[(ds, table)] = duck_fingerprint(con, q)
        return out
    finally:
        con.close()


def daily_actual(spark, table_path: str, ds: str) -> dict:
    """Fingerprint of one committed day partition, read back from the
    lake the way a downstream reader sees it."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(table_path).where(F.col("tanggal") == F.lit(ds).cast("date"))
    return collected_fingerprint(df)
