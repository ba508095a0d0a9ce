"""End-to-end daily pipeline — the reference's two DAGs as driver code.

* :func:`load_dims`  ≙ DAG 1 ``stage_csv_dims_to_pg_dwh``
  (CSV → all-string staging → typed dims → lake).
* :func:`run_daily`  ≙ DAG 2 ``dag_datapelangan``
  (typed views → day+status filter → union/joins → three aggregates →
  day-partitioned lake tables).

Where the reference hand-rolls optimization, Catalyst covers it (SURVEY
§4): the dblink-inlined day/status filter becomes a declarative filter that
pushes into the scan; the single-statement CTE chain that feeds three
INSERTs at once becomes an explicit cache of the shared union (owned by the
day's ``cache_scope``) — the one optimization Spark does NOT do
automatically across actions.
Cross-table atomicity (the reference commits all three aggregates in one
transaction) maps to the staged-rename protocol in
io.commit_partitions_atomic: stage all three day-partitions first, then
publish with metadata renames only.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from etl_tj_project_spark import io as lake_io
from etl_tj_project_spark.cache import cache_scope, persist
from etl_tj_project_spark.operators import aggregates as agg
from etl_tj_project_spark.operators import dims as dims_ops
from etl_tj_project_spark.operators import projections as proj
from etl_tj_project_spark.schemas import (
    REALISASI_BUS_STAGING,
    ROUTES_STAGING,
    SHELTER_CORRIDOR_STAGING,
    TRANSAKSI_BUS_RAW,
    TRANSAKSI_HALTE_RAW,
)
from etl_tj_project_spark.session import tune
from etl_tj_project_spark.sources.csv import read_csv_staging


@dataclass
class Warehouse:
    """Lake layout for the TJ warehouse (paths in place of PG schemas)."""

    root: str

    def dim(self, name: str) -> str:
        return os.path.join(self.root, "dw", name)

    def agg(self, name: str) -> str:
        return os.path.join(self.root, "dw", name)


def load_dims(spark: SparkSession, data_dir: str, wh: Warehouse) -> dict[str, DataFrame]:
    """DAG 1: stage the three dimension CSVs and promote to typed finals."""
    tune(spark)
    routes = dims_ops.promote_routes(
        read_csv_staging(spark, os.path.join(data_dir, "dummy_routes.csv"), ROUTES_STAGING)
    )
    shelter = dims_ops.promote_shelter_corridor(
        read_csv_staging(
            spark,
            os.path.join(data_dir, "dummy_shelter_corridor.csv"),
            SHELTER_CORRIDOR_STAGING,
        )
    )
    realisasi = dims_ops.promote_realisasi_bus(
        read_csv_staging(
            spark,
            os.path.join(data_dir, "dummy_realisasi_bus.csv"),
            REALISASI_BUS_STAGING,
        )
    )
    lake_io.overwrite_table(routes, wh.dim("routes"))
    lake_io.overwrite_table(shelter, wh.dim("shelter_corridor"))
    lake_io.overwrite_table(realisasi, wh.dim("realisasi_bus"))
    return {
        "routes": lake_io.read_table(spark, wh.dim("routes")),
        "shelter_corridor": lake_io.read_table(spark, wh.dim("shelter_corridor")),
        "realisasi_bus": lake_io.read_table(spark, wh.dim("realisasi_bus")),
    }


def run_daily(
    spark: SparkSession,
    ds: str,
    *,
    bus_raw: DataFrame,
    halte_raw: DataFrame,
    routes: DataFrame,
    realisasi_bus: DataFrame,
    shelter_corridor: DataFrame,
    wh: Warehouse | None = None,
) -> dict[str, DataFrame]:
    """DAG 2 for one logical date ``ds`` ('YYYY-MM-DD').

    Returns the three aggregate DataFrames; when ``wh`` is given they are
    also written with dynamic partition overwrite (idempotent re-runs);
    without ``wh`` they read the union cache, which the caller then owns.
    """
    tune(spark)
    bus = proj.filter_day_success(proj.vw_trx_bus(bus_raw), ds)
    halte = proj.filter_day_success(proj.vw_trx_halte(halte_raw), ds)

    # One cached pass feeds agg_by_card and agg_by_tariff (the reference's
    # chained-CTE single-statement trick, ref dag_datapelangan.py:172-234).
    with cache_scope(spark) if wh is not None else nullcontext():
        unioned = persist(agg.union_trx(bus, halte))
        by_card = agg.agg_by_card_from_union(unioned)
        by_tariff = agg.agg_by_tariff_from_union(unioned)
        by_route = agg.agg_by_route(
            bus, halte, routes, realisasi_bus, shelter_corridor
        )
        if wh is not None:
            lake_io.commit_partitions_atomic(
                {
                    "agg_by_card": (by_card, wh.agg("agg_by_card")),
                    "agg_by_route": (by_route, wh.agg("agg_by_route")),
                    "agg_by_tariff": (by_tariff, wh.agg("agg_by_tariff")),
                },
                day=ds,
            )
        return {
            "agg_by_card": by_card,
            "agg_by_route": by_route,
            "agg_by_tariff": by_tariff,
        }


def raw_trx_from_csv(spark: SparkSession, data_dir: str) -> tuple[DataFrame, DataFrame]:
    """Read the two raw transaction CSVs with all-string staging schemas."""
    bus = read_csv_staging(
        spark, os.path.join(data_dir, "dummy_transaksi_bus.csv"), TRANSAKSI_BUS_RAW
    )
    halte = read_csv_staging(
        spark, os.path.join(data_dir, "dummy_transaksi_halte.csv"), TRANSAKSI_HALTE_RAW
    )
    return bus, halte
