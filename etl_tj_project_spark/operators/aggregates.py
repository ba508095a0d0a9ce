"""The three daily aggregates and their join/union pipeline.

Reference parity (dags/dag_datapelangan.py:172-234):
* agg_by_card   (A1): GROUP BY (tanggal, card_type, gate_in_boo)
                      → COUNT(*), SUM(amount) over bus ∪ halte (U1)
* agg_by_route  (A2): bus JOIN realisasi_bus ON normalized body (J1,
                      inner, fan-out) LEFT JOIN routes (J2)  UNION ALL
                      halte LEFT JOIN shelter_corridor (J3) LEFT JOIN
                      routes ON corridor_code::text (J4), then GROUP BY
                      with nullable keys (NULL groups retained)
* agg_by_tariff (A3): GROUP BY (tanggal, amount AS tarif, gate_in_boo)
                      → COUNT(*)

Scale design: all three dims are broadcast (KB-sized even at 1000× —
routes/corridors/fleet are bounded real-world sets), so the only shuffles
are the three hash aggregations, each partial-aggregated map-side by
Spark. The bus∪halte union is consumed by two aggregates and the bus and
halte inputs by all three; plans/daily.py caches those inputs (the staged
typed month), so no sink rescans the source.

Column semantics preserved: COUNT(*) → LongType `pelanggan_count`;
SUM(decimal(18,2)) re-cast to decimal(18,2); NULL grouping keys form their
own groups (Spark matches Postgres here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_tj_project_spark.schemas import AMOUNT

_CORE = ["tanggal", "card_type", "amount", "gate_in_boo"]


def union_trx(bus: DataFrame, halte: DataFrame) -> DataFrame:
    """U1: schema-aligned bag union of the two transaction streams."""
    return bus.select(*_CORE).unionByName(halte.select(*_CORE))


def agg_by_card(bus: DataFrame, halte: DataFrame) -> DataFrame:
    """A1 (ref :188-198). Accepts the typed, filtered views."""
    return agg_by_card_from_union(union_trx(bus, halte))


def agg_by_card_from_union(unioned: DataFrame) -> DataFrame:
    return unioned.groupBy("tanggal", "card_type", "gate_in_boo").agg(
        F.count(F.lit(1)).alias("pelanggan_count"),
        F.sum("amount").cast(AMOUNT).alias("amount_sum"),
    )


def agg_by_tariff(bus: DataFrame, halte: DataFrame) -> DataFrame:
    """A3 (ref :227-234)."""
    return agg_by_tariff_from_union(union_trx(bus, halte))


def agg_by_tariff_from_union(unioned: DataFrame) -> DataFrame:
    return (
        unioned.select("tanggal", F.col("amount").alias("tarif"), "gate_in_boo")
        .groupBy("tanggal", "tarif", "gate_in_boo")
        .agg(F.count(F.lit(1)).alias("pelanggan_count"))
    )


def route_branches(
    bus: DataFrame,
    halte: DataFrame,
    routes: DataFrame,
    realisasi_bus: DataFrame,
    shelter_corridor: DataFrame,
) -> DataFrame:
    """The two differently-joined branches feeding agg_by_route (U2).

    Branch 1 (bus): inner join to realisasi on the lossy normalized body
    key — unmatched bus rows drop; duplicate keys fan out (J1). Then left
    join to routes on rute_realisasi::text (J2).
    Branch 2 (halte): left join shelter→corridor (J3), then left join
    routes on corridor_code::text (J4).

    All dims are explicitly broadcast: the fact side never shuffles.
    """
    bus_branch = (
        bus.join(
            F.broadcast(realisasi_bus),
            realisasi_bus["bus_body_no_norm"] == bus["no_body_norm"],
            "inner",
        )
        .join(
            F.broadcast(routes),
            routes["route_code"] == realisasi_bus["rute_realisasi"].cast("string"),
            "left",
        )
        .select(
            bus["tanggal"],
            realisasi_bus["rute_realisasi"].cast("string").alias("route_code"),
            routes["route_name"],
            bus["gate_in_boo"],
            bus["amount"],
        )
    )
    halte_branch = (
        halte.join(
            F.broadcast(shelter_corridor),
            shelter_corridor["shelter_name_var"] == halte["shelter_name_var"],
            "left",
        )
        .join(
            F.broadcast(routes),
            routes["route_code"] == shelter_corridor["corridor_code"].cast("string"),
            "left",
        )
        .select(
            halte["tanggal"],
            shelter_corridor["corridor_code"].cast("string").alias("route_code"),
            routes["route_name"],
            halte["gate_in_boo"],
            halte["amount"],
        )
    )
    return bus_branch.unionByName(halte_branch)


def agg_by_route(
    bus: DataFrame,
    halte: DataFrame,
    routes: DataFrame,
    realisasi_bus: DataFrame,
    shelter_corridor: DataFrame,
) -> DataFrame:
    """A2 (ref :200-225); NULL route_code/route_name groups retained."""
    return (
        route_branches(bus, halte, routes, realisasi_bus, shelter_corridor)
        .groupBy("tanggal", "route_code", "route_name", "gate_in_boo")
        .agg(
            F.count(F.lit(1)).alias("pelanggan_count"),
            F.sum("amount").cast(AMOUNT).alias("amount_sum"),
        )
    )
