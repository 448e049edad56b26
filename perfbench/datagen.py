"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` — the ten analytics tables the registry queries read
  (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the same Parquet schemas, value domains and
  key ranges as the project's test tables. One file per table, one row
  group per file. ``scale`` multiplies the row counts; scale 1 is the
  sf0.01 shape (60 000 lineitem rows).
* ``write_daily_csvs`` — the reference domain's five CSVs (routes,
  shelters, realised bus assignments, bus and shelter transactions) at
  ``volume`` times the reference's row counts, keeping its edge cases:
  dirty body numbers that collide after normalisation, M/D/YYYY dates
  that load as NULL, ``''`` corridor codes, trim-sensitive shelter keys
  and F-status rows.

Both are pure functions of their seed: the same seed writes
byte-identical files, another seed writes other files.
"""

from __future__ import annotations

import csv
import io
import os
import random
import uuid
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Analytics tables
# --------------------------------------------------------------------------

_TS = pa.timestamp("us")
SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
         ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]
    ),
    "supplier": pa.schema(
        [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
         ("s_acctbal", pa.float64())]
    ),
    "part": pa.schema(
        [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
         ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]
    ),
    "orders": pa.schema(
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
         ("o_totalprice", pa.float64()), ("o_orderdate", _TS), ("o_orderpriority", pa.string())]
    ),
    "lineitem": pa.schema(
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
         ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
         ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
         ("l_tax", pa.float64()), ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
         ("l_shipdate", _TS)]
    ),
    "events": pa.schema(
        [("event_id", pa.int64()), ("ts", _TS), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
    ),
    "documents": pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    ),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = (
    "row the query stream fast spark line small customer group key agg scan "
    "slow table part a merge window order column join vector value hash batch "
    "sort data big filter"
).split()
EMBED_DIM = 64


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Build the ten tables in memory; row counts are ``scale`` times the
    sf0.01 shape (documents and embeddings have their own floor)."""
    rng = np.random.default_rng(seed)
    pyrng = random.Random(seed)
    n_cust = max(int(1500 * scale), 50)
    n_supp = max(int(100 * scale), 10)
    n_part = max(int(2000 * scale), 50)
    n_ord = max(int(15000 * scale), 500)
    n_line = n_ord * 4
    n_ev = max(int(10000 * scale), 500)
    n_users = max(int(150 * scale), 20)
    n_docs = max(int(500 * scale), 200)
    n_vec = max(int(500 * scale), 200)
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    }
    ev_offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts: list[str] = []
    for i in range(n_docs):
        r = pyrng.random()
        if texts and r < 0.05:
            # near duplicate: an earlier document plus a marker word
            texts.append(pyrng.choice(texts) + " dup")
        elif texts and r < 0.08:
            # edited copy: one word of an earlier document replaced
            words = pyrng.choice(texts).split()
            words[pyrng.randrange(len(words))] = pyrng.choice(VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(pyrng.choice(VOCAB) for _ in range(pyrng.randint(8, 90))))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [pyrng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": [list(v) for v in vecs],
        "label": labels.astype(np.int32),
    }
    return {name: pa.table(cols, schema=SCHEMAS[name]) for name, cols in t.items()}


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write the ten tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


# --------------------------------------------------------------------------
# Reference-domain CSVs for the daily pipeline
# --------------------------------------------------------------------------

REF_BUS, REF_HALTE = 515, 900  # the reference's fact volumes
ROUTE_CODES = [str(i) for i in range(1, 15)] + ["B21", "C12", "D11", "F11", "K22", "L13", "M14"]
RUTE_REALISASI = ["B21", "C12", "D11", "F11", "K22", "L13", "M14"]
CARD_TYPES = ["BRIZZI", "JakCard", "E-Money", "Flazz"]
FARES = [0, 2000, 3500, 20000, 35000]
GATE_LITERALS = ["True", "False", "T", "F", "1", "0", "Y", "N", "YES", "NO", ""]
PLACES = [
    "Blok M", "Kota", "Pulo Gadung", "Harmoni", "Kalideres", "Ragunan",
    "Kampung Melayu", "Ancol", "Grogol", "Tanjung Priok", "Cililitan",
    "Pinang Ranti", "Pluit", "Tosari", "Dukuh Atas", "Senen", "Juanda",
    "Bundaran HI", "Monas", "Sawah Besar", "Glodok", "Mangga Besar",
]
BODY_PREFIXES = ["KLG", "LGS", "BRT", "TJX", "MYS", "DMR", "PPD", "SAF"]
BODY_SUFFIXES = ["", "", "", "", "-", "_A", "A", "-B", "_B", "--"]
TRX_HEADER = [
    "uuid", "waktu_transaksi", None, None, "card_number_var", "card_type_var",
    "balance_before_int", "fare_int", "balance_after_int", "transcode_txt",
    "gate_in_boo", "p_latitude_flo", "p_longitude_flo", "status_var",
    "free_service_boo", "insert_on_dtm",
]
CSV_NAMES = [
    "dummy_routes", "dummy_shelter_corridor", "dummy_realisasi_bus",
    "dummy_transaksi_bus", "dummy_transaksi_halte",
]


def _csv_bytes(header: list[str], rows: list[list]) -> bytes:
    buf = io.StringIO(newline="")
    w = csv.writer(buf)
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def make_daily_csvs(seed: int, volume: int, days: list[int]) -> dict[str, bytes]:
    """CSV file contents keyed by file stem. Fact rows are spread evenly
    over ``days`` (days of July 2025)."""
    rng = random.Random(seed)
    routes, used = [], set()
    for code in ROUTE_CODES:
        name = " - ".join(rng.sample(PLACES, 2))
        while name in used:
            name = " - ".join(rng.sample(PLACES, 2))
        used.add(name)
        routes.append([code, name])

    shelters, shelter_names = [], []
    for i in range(74):
        base = f"{rng.choice(PLACES)} {i + 1:02d}"
        shelter_names.append(base)
        staged = base if rng.random() > 0.15 else f"  {base} "  # trim-sensitive key
        code = "" if rng.random() < 0.08 else str(rng.randint(1, 14))  # '' corridor
        shelters.append([staged, code, f"{rng.choice(PLACES)} - {rng.choice(PLACES)}"])

    bodies = []
    for _ in range(515):
        # 4-digit runs truncate to 3 after normalisation, so bodies collide
        digits = "".join(rng.choice("0123456789") for _ in range(rng.choice([2, 3, 3, 4, 4, 4])))
        bodies.append(rng.choice(BODY_PREFIXES) + digits + rng.choice(BODY_SUFFIXES))
    realisasi = []
    for body in bodies:
        r = rng.random()
        if r < 0.90:  # M/D/YYYY with a one-digit month: loads as NULL
            d = f"{rng.randint(7, 9)}/{rng.randint(1, 28)}/2025"
        elif r < 0.95:
            d = f"2025-07-{rng.randint(1, 28):02d}"
        else:
            d = f"{rng.randint(1, 28):02d}/07/2025"
        realisasi.append([d, body, rng.choice(RUTE_REALISASI)])

    def trx(i: int, day: int, place: str, detail: str) -> list:
        ts = datetime(2025, 7, day, rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59))
        fare = rng.choice(FARES)
        before = rng.randint(fare, fare + 100000)
        return [
            str(uuid.UUID(int=rng.getrandbits(128))), ts.strftime("%Y-%m-%d %H:%M:%S"),
            place, detail, f"{rng.getrandbits(53):016d}"[-16:], rng.choice(CARD_TYPES),
            before, fare, before - fare, f"TX{i + 1:08d}", rng.choice(GATE_LITERALS),
            round(-6.3 + rng.random() * 0.2, 6), round(106.7 + rng.random() * 0.2, 6),
            "S" if rng.random() < 0.95 else "F",  # F rows are dropped by the day filter
            "True" if rng.random() < 0.12 else "False",
            (ts + timedelta(seconds=rng.randint(0, 120))).strftime("%Y-%m-%d %H:%M:%S"),
        ]

    bus = []
    for i in range(REF_BUS * volume):
        plate = f"B {rng.randint(1000, 9999)} {''.join(rng.choices('ABCDEFGHJKLMNPRSTUVWXYZ', k=3))}"
        bus.append(trx(i, days[i % len(days)], plate, rng.choice(bodies)))
    halte = []
    for i in range(REF_HALTE * volume):
        shelter = rng.choice(shelter_names)
        halte.append(trx(i, days[i % len(days)], shelter, f"Gate {rng.randint(1, 3)} {shelter}"))

    bus_header = list(TRX_HEADER)
    bus_header[2:4] = ["armada_id_var", "no_body_var"]
    halte_header = list(TRX_HEADER)
    halte_header[2:4] = ["shelter_name_var", "terminal_name_var"]
    return {
        "dummy_routes": _csv_bytes(["route_code", "route_name"], routes),
        "dummy_shelter_corridor": _csv_bytes(
            ["shelter_name_var", "corridor_code", "corridor_name"], shelters
        ),
        "dummy_realisasi_bus": _csv_bytes(
            ["tanggal_realisasi", "bus_body_no", "rute_realisasi"], realisasi
        ),
        "dummy_transaksi_bus": _csv_bytes(bus_header, bus),
        "dummy_transaksi_halte": _csv_bytes(halte_header, halte),
    }


def write_daily_csvs(out_dir: str, seed: int, volume: int, days: list[int]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for stem, data in make_daily_csvs(seed, volume, days).items():
        with open(os.path.join(out_dir, f"{stem}.csv"), "wb") as f:
            f.write(data)
