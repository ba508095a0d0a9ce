"""Output checks: DuckDB oracles over the generated files and an
order-insensitive digest shared by both sides.

The digest follows the rule of the repository's oracle compare: columns
sorted by (lower-cased) name, cells rendered canonically (floats by
``repr``, so only bit-identical doubles match; dates and timestamps in
ISO form), rows sorted, then hashed. The Spark side is digested in the
worker process from the Arrow result it fetched; the DuckDB side here,
once per seed and outside every timed section.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime, timezone
from decimal import Decimal

TJ_TABLES = [
    "dummy_routes", "dummy_shelter_corridor", "dummy_realisasi_bus",
    "dummy_transaksi_bus", "dummy_transaksi_halte",
]
TJ_AGGS = ["agg_by_card", "agg_by_route", "agg_by_tariff"]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def normalize(columns: list[str], rows) -> list[tuple]:
    """Columns sorted by lower-cased name, cells canonical, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def digest(columns: list[str], rows) -> dict:
    norm = normalize(columns, rows)
    h = hashlib.sha256()
    h.update(repr(sorted(c.lower() for c in columns)).encode())
    for r in norm:
        h.update(repr(r).encode())
    return {"rows": len(norm), "sha256": h.hexdigest()}


def _connect(views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name, src in views.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM {src}")
    return con


def registry_expectations(sf_dir: str, names: list[str], rows_only: dict[str, int]) -> dict:
    """Expected digest per registry entry: DuckDB over the entry's own
    oracle SQL (pinned by ``parity.pin_oracle_sql``), or a fixed row count for the
    rows-only entries listed in ``rows_only``."""
    from etl_tj_project_spark import harness, parity
    from etl_tj_project_spark.schemas import TESTDATA_TABLES

    con = _connect({t: f"read_parquet('{sf_dir}/{t}.parquet')" for t in TESTDATA_TABLES})
    try:
        out = {}
        for name in names:
            if name in rows_only:
                out[name] = {"rows": rows_only[name], "sha256": None}
                continue
            rel = con.sql(parity.pin_oracle_sql(con, harness.REGISTRY[name].oracle))
            out[name] = digest(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def matches(expected: dict, got: dict | None) -> bool:
    if got is None or got.get("rows") != expected["rows"]:
        return False
    return expected["sha256"] is None or expected["sha256"] == got.get("sha256")


# --------------------------------------------------------------------------
# TJ daily pipeline
# --------------------------------------------------------------------------

def _tj_connection(data_dir: str):
    from etl_tj_project_spark.functions.cleaning import norm_body_sql, to_bool_safe_sql

    con = _connect({
        t: f"read_csv('{data_dir}/{t}.csv', all_varchar=true, header=true)"
        for t in TJ_TABLES
    })
    con.sql(
        "CREATE VIEW routes_d AS SELECT trim(route_code) AS route_code, "
        "route_name FROM dummy_routes WHERE route_code IS NOT NULL"
    )
    con.sql(
        "CREATE VIEW shelter_d AS SELECT trim(shelter_name_var) AS shelter_name_var, "
        "TRY_CAST(nullif(trim(corridor_code), '') AS INTEGER) AS corridor_code, "
        "corridor_name FROM dummy_shelter_corridor WHERE shelter_name_var IS NOT NULL"
    )
    con.sql(
        "CREATE VIEW realisasi_d AS SELECT "
        f"{norm_body_sql('bus_body_no')} AS bus_body_no_norm, "
        "rute_realisasi FROM dummy_realisasi_bus"
    )
    typed = (
        "CAST(TRY_CAST(waktu_transaksi AS TIMESTAMP) AS DATE) AS tanggal, "
        "upper(card_type_var) AS card_type, "
        "TRY_CAST(fare_int AS DECIMAL(18,2)) AS amount, "
        f"{to_bool_safe_sql('gate_in_boo')} AS gate_in_boo"
    )
    # Tables, not views: the three aggregate queries each read both, and
    # re-parsing the CSVs per query would triple the oracle's time.
    con.sql(
        f"CREATE TABLE bus_s AS SELECT {typed}, {norm_body_sql('no_body_var')} AS no_body_norm "
        "FROM dummy_transaksi_bus WHERE upper(status_var) = 'S'"
    )
    con.sql(
        f"CREATE TABLE halte_s AS SELECT {typed}, shelter_name_var "
        "FROM dummy_transaksi_halte WHERE upper(status_var) = 'S'"
    )
    return con


_TJ_ORACLE = {
    "agg_by_card": """
        SELECT tanggal, card_type, gate_in_boo, COUNT(*) AS pelanggan_count,
               CAST(SUM(amount) AS DECIMAL(18,2)) AS amount_sum
        FROM (SELECT tanggal, card_type, amount, gate_in_boo FROM bus_s
              UNION ALL
              SELECT tanggal, card_type, amount, gate_in_boo FROM halte_s)
        WHERE tanggal IN ({days}) GROUP BY ALL""",
    "agg_by_route": """
        SELECT tanggal, route_code, route_name, gate_in_boo,
               COUNT(*) AS pelanggan_count,
               CAST(SUM(amount) AS DECIMAL(18,2)) AS amount_sum
        FROM (
          SELECT b.tanggal, CAST(rb.rute_realisasi AS VARCHAR) AS route_code,
                 r.route_name, b.gate_in_boo, b.amount
          FROM bus_s b
          JOIN realisasi_d rb ON rb.bus_body_no_norm = b.no_body_norm
          LEFT JOIN routes_d r ON r.route_code = CAST(rb.rute_realisasi AS VARCHAR)
          UNION ALL
          SELECT h.tanggal, CAST(sc.corridor_code AS VARCHAR) AS route_code,
                 r.route_name, h.gate_in_boo, h.amount
          FROM halte_s h
          LEFT JOIN shelter_d sc ON sc.shelter_name_var = h.shelter_name_var
          LEFT JOIN routes_d r ON r.route_code = CAST(sc.corridor_code AS VARCHAR))
        WHERE tanggal IN ({days}) GROUP BY ALL""",
    "agg_by_tariff": """
        SELECT tanggal, amount AS tarif, gate_in_boo, COUNT(*) AS pelanggan_count
        FROM (SELECT tanggal, amount, gate_in_boo FROM bus_s
              UNION ALL
              SELECT tanggal, amount, gate_in_boo FROM halte_s)
        WHERE tanggal IN ({days}) GROUP BY ALL""",
}


def _by_day(columns: list[str], rows) -> dict[str, dict]:
    """Digest per ``tanggal`` value."""
    k = [c.lower() for c in columns].index("tanggal")
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(_cell(r[k]), []).append(r)
    return {d: digest(columns, rs) for d, rs in groups.items()}


def tj_expectations(data_dir: str, days: list[str]) -> dict:
    """``{agg: {day: digest}}`` from DuckDB over the generated CSVs."""
    con = _tj_connection(data_dir)
    try:
        lit = ", ".join(f"DATE '{d}'" for d in days)
        out = {}
        for agg, sql in _TJ_ORACLE.items():
            rel = con.sql(sql.format(days=lit))
            out[agg] = _by_day(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def tj_committed(wh_root: str) -> tuple[dict, dict]:
    """Read the committed day partitions back (DuckDB, no Spark): return
    ``({agg: {day: digest}}, {day: sum of agg_by_card.pelanggan_count})``."""
    con = _connect({})
    try:
        out, counts = {}, {}
        for agg in TJ_AGGS:
            path = os.path.join(wh_root, "dw", agg)
            rel = con.sql(
                f"SELECT * FROM read_parquet('{path}/*/*.parquet', hive_partitioning=true, "
                "hive_types={'tanggal': DATE})"
            )
            rows = rel.fetchall()
            out[agg] = _by_day(rel.columns, rows)
            if agg == "agg_by_card":
                k = rel.columns.index("tanggal")
                n = rel.columns.index("pelanggan_count")
                for r in rows:
                    day = _cell(r[k])
                    counts[day] = counts.get(day, 0) + r[n]
        return out, counts
    finally:
        con.close()
