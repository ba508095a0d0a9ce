"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical files. The program under test only ever sees these files.

* :func:`tj_csvs` writes the five reference-domain CSVs of the TJ daily
  fare ETL (FIXTURES.md section A), vectorized with NumPy so that tens of
  thousands of transactions take well under a second.
* :func:`sf_tables` writes the ten TPC-H-ish Parquet tables the registry
  queries read (FIXTURES.md section B), with the value domains and
  distributions of the reference testdata, in a seed-dependent row order.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# TJ reference-domain CSVs
# --------------------------------------------------------------------------

ROUTE_CODES = [str(i) for i in range(1, 15)] + ["B21", "C12", "D11", "F11", "K22", "L13", "M14"]
RUTE_REALISASI = ["B21", "C12", "D11", "F11", "K22", "L13", "M14"]
CARD_TYPES = ["BRIZZI", "JakCard", "E-Money", "Flazz"]
FARES = [0, 2000, 3500, 20000, 35000]
# Every literal the engine's to_bool_safe must accept, '' included (-> NULL).
GATE_LITERALS = ["True", "False", "T", "F", "1", "0", "Y", "N", "YES", "NO", ""]
PLACES = [
    "Blok M", "Kota", "Pulo Gadung", "Harmoni", "Kalideres", "Ragunan",
    "Kampung Melayu", "Ancol", "Grogol", "Tanjung Priok", "Cililitan",
    "Pinang Ranti", "Pluit", "Tosari", "Dukuh Atas", "Senen", "Juanda",
    "Bundaran HI", "Monas", "Sawah Besar", "Glodok", "Mangga Besar",
]
BODY_PREFIXES = ["KLG", "LGS", "BRT", "TJX", "MYS", "DMR", "PPD", "SAF"]
# Trailing separators and A/B suffixes, with and without separators.
BODY_SUFFIXES = ["", "", "", "", "-", "_A", "A", "-B", "_B", "--"]
N_REALISASI = 515
N_SHELTERS = 74
MONTH_DAYS = 31  # July 2025

TRX_HEADER_TAIL = [
    "card_number_var", "card_type_var", "balance_before_int", "fare_int",
    "balance_after_int", "transcode_txt", "gate_in_boo", "p_latitude_flo",
    "p_longitude_flo", "status_var", "free_service_boo", "insert_on_dtm",
]


def _write_csv(path: str, header: list[str], columns: list) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(zip(*columns))


def _digits(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    """``n`` strings of ``width`` random decimal digits."""
    d = rng.integers(0, 10, size=(n, width), dtype=np.uint8) + ord("0")
    return d.view(f"S{width}").ravel().astype(str)


def _body_pool(rng: np.random.Generator, n: int) -> list[str]:
    """Dirty body numbers: 2-4 digit runs (4-digit runs collide after the
    3-digit normalization, so the bus->realisasi join fans out), short
    forms, and separator/letter suffixes."""
    pre = rng.choice(BODY_PREFIXES, n)
    ndig = rng.choice([2, 3, 3, 4, 4, 4], n)
    num = _digits(rng, n, 4)
    suf = rng.choice(BODY_SUFFIXES, n)
    return [p + d[:k] + s for p, d, k, s in zip(pre, num, ndig, suf)]


def _trx_common(rng: np.random.Generator, n: int, tx_offset: int) -> dict:
    """Columns shared by bus and halte transactions; ``day`` is 1-based."""
    day = rng.integers(1, MONTH_DAYS + 1, n)
    sec = rng.integers(0, 86400, n)
    ts = np.datetime64("2025-07-01T00:00:00") + (
        (day - 1) * 86400 + sec
    ).astype("timedelta64[s]")
    ins = ts + rng.integers(0, 121, n).astype("timedelta64[s]")
    fare = rng.choice(FARES, n)
    before = fare + rng.integers(0, 100001, n)
    status = np.where(rng.random(n) < 0.95, "S", "F")
    fmt = lambda a: np.datetime_as_string(a, unit="s").astype("U19")  # noqa: E731
    uuid_hex = _hex(rng, n, 32)
    return {
        "day": day,
        "status": status,
        "cols": [
            [f"{u[:8]}-{u[8:12]}-4{u[13:16]}-a{u[17:20]}-{u[20:]}" for u in uuid_hex],
            np.char.replace(fmt(ts), "T", " ").tolist(),
        ],
        "tail": [
            _digits(rng, n, 16).tolist(),
            rng.choice(CARD_TYPES, n).tolist(),
            before.tolist(),
            fare.tolist(),
            (before - fare).tolist(),
            [f"TX{i:06d}" for i in range(tx_offset + 1, tx_offset + n + 1)],
            rng.choice(GATE_LITERALS, n).tolist(),
            (-6.3 + rng.random(n) * 0.2).tolist(),
            (106.7 + rng.random(n) * 0.2).tolist(),
            status.tolist(),
            np.where(rng.random(n) < 0.12, "True", "False").tolist(),
            np.char.replace(fmt(ins), "T", " ").tolist(),
        ],
    }


def _hex(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    lut = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    h = lut[rng.integers(0, 16, size=(n, width))]
    return h.view(f"S{width}").ravel().astype(str)


def tj_csvs(data_dir: str, seed: int, n_bus: int, n_halte: int) -> dict:
    """Write the five TJ CSVs; return the generator's own per-day counts
    of status-``S`` transactions (bus + halte), keyed ``YYYY-MM-DD``."""
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 101])

    # routes: numeric and alphanumeric codes, unique "X - Y" names.
    names: list[str] = []
    while len(names) < len(ROUTE_CODES):
        a, b = rng.choice(len(PLACES), 2, replace=False)
        name = f"{PLACES[a]} - {PLACES[b]}"
        if name not in names:
            names.append(name)
    _write_csv(os.path.join(data_dir, "dummy_routes.csv"),
               ["route_code", "route_name"], [ROUTE_CODES, names])

    # shelter_corridor: unique names, stray spaces, '' corridors (-> NULL).
    base = [f"{PLACES[i]} {k + 1:02d}" for k, i in
            enumerate(rng.integers(0, len(PLACES), N_SHELTERS))]
    staged = [f"  {b} " if r < 0.15 else b for b, r in zip(base, rng.random(N_SHELTERS))]
    corridor = [
        "" if r < 0.08 else str(c)
        for r, c in zip(rng.random(N_SHELTERS), rng.integers(1, 15, N_SHELTERS))
    ]
    cname = [f"{PLACES[a]} - {PLACES[b]}" for a, b in
             rng.integers(0, len(PLACES), (N_SHELTERS, 2))]
    _write_csv(os.path.join(data_dir, "dummy_shelter_corridor.csv"),
               ["shelter_name_var", "corridor_code", "corridor_name"],
               [staged, corridor, cname])

    # realisasi_bus: ~90% M/D/YYYY (promotes to NULL), ~5% ISO, ~5% DD/MM/YYYY.
    bodies = _body_pool(rng, N_REALISASI)
    r = rng.random(N_REALISASI)
    m = rng.integers(7, 10, N_REALISASI)
    d = rng.integers(1, 29, N_REALISASI)
    dates = [
        f"{mm}/{dd}/2025" if x < 0.90 else
        (f"2025-07-{dd:02d}" if x < 0.95 else f"{dd:02d}/07/2025")
        for x, mm, dd in zip(r, m, d)
    ]
    _write_csv(os.path.join(data_dir, "dummy_realisasi_bus.csv"),
               ["tanggal_realisasi", "bus_body_no", "rute_realisasi"],
               [dates, bodies, rng.choice(RUTE_REALISASI, N_REALISASI).tolist()])

    # transaksi_bus: bodies drawn from the realisasi pool (100% match rate).
    bus = _trx_common(rng, n_bus, 0)
    letters = np.array(list("ABCDEFGHJKLMNPRSTUVWXYZ"))
    plate_l = letters[rng.integers(0, len(letters), (n_bus, 3))]
    plates = [f"B {n} {''.join(l3)}" for n, l3 in
              zip(rng.integers(1000, 10000, n_bus), plate_l)]
    body = np.asarray(bodies)[rng.integers(0, N_REALISASI, n_bus)].tolist()
    _write_csv(os.path.join(data_dir, "dummy_transaksi_bus.csv"),
               ["uuid", "waktu_transaksi", "armada_id_var", "no_body_var"] + TRX_HEADER_TAIL,
               bus["cols"] + [plates, body] + bus["tail"])

    # transaksi_halte: shelter names drawn 100% from the (trimmed) dim domain.
    halte = _trx_common(rng, n_halte, n_bus)
    shelter = np.asarray(base)[rng.integers(0, N_SHELTERS, n_halte)]
    gate = rng.integers(1, 4, n_halte)
    terminal = [f"Gate {g} {s}" for g, s in zip(gate, shelter)]
    _write_csv(os.path.join(data_dir, "dummy_transaksi_halte.csv"),
               ["uuid", "waktu_transaksi", "shelter_name_var", "terminal_name_var"] + TRX_HEADER_TAIL,
               halte["cols"] + [shelter.tolist(), terminal] + halte["tail"])

    s_rows = np.zeros(MONTH_DAYS + 1, dtype=np.int64)
    for part in (bus, halte):
        np.add.at(s_rows, part["day"][part["status"] == "S"], 1)
    return {f"2025-07-{dd:02d}": int(s_rows[dd]) for dd in range(1, MONTH_DAYS + 1)}


# --------------------------------------------------------------------------
# TPC-H-ish Parquet tables
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _uniform_days(rng, n, lo: str, hi: str) -> np.ndarray:
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    return (np.datetime64(lo) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _steps(rng, n, hi_cents: int) -> np.ndarray:
    """0.00..hi in 0.01 steps, end points at half weight (rounded uniform)."""
    return np.round(rng.uniform(0, hi_cents, n)) / 100.0


def _tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, dict]:
    rng = np.random.default_rng([seed, 202])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    pnames = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
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
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(pnames, n_part),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _uniform_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": _steps(rng, n_line, 10),
        "l_tax": _steps(rng, n_line, 8),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _uniform_days(rng, n_line, "1995-01-02", "2001-11-04"),
    }
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    # documents: bag-of-words over a small vocabulary, 10-100 words each;
    # exactly 5% are near-duplicates (an earlier document's text with a
    # marker word appended). Lengths are stratified and the duplicate count
    # fixed, so seeds change the content but not the amount of dedup work.
    n_words = rng.permutation(np.linspace(10, 100, n_docs).round().astype(int))
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n_words.sum())]
    cuts = np.cumsum(n_words)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    for i in np.sort(rng.choice(np.arange(1, n_docs), round(0.05 * n_docs), replace=False)):
        text[i] = text[rng.integers(0, i)] + " dup"
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    }
    # embeddings: unit vectors around 10 weakly separated label centroids.
    dim = 64
    cent = rng.normal(size=(10, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vecs)
    vec = 0.6 * cent[label] + rng.normal(scale=1 / 8, size=(n_vecs, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }
    return t


def sf_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """Write the ten Parquet tables (one file, one row group each), rows in
    a seed-dependent order; return ``{table: row_count}``."""
    os.makedirs(out_dir, exist_ok=True)
    order_rng = np.random.default_rng([seed, 303])
    counts = {}
    for name, cols in _tables(seed, sf, n_docs, n_vecs).items():
        table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v)
                          for k, v in cols.items()})
        table = table.take(order_rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
