"""End-to-end tests of the TJ daily pipeline (DAG 1 + DAG 2 semantics)
on generated reference-domain fixtures, gated by a DuckDB oracle that
re-states the reference's documented semantics (SURVEY §2/§3) in SQL.
"""

from __future__ import annotations

import os
import threading

import pytest

from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from etl_tj_project_spark import io as lake_io
from etl_tj_project_spark.cache import cache_scope
from etl_tj_project_spark.functions.cleaning import (
    norm_body,
    norm_body_sql,
    to_bool_safe_sql,
)
from etl_tj_project_spark.plans.daily import (
    Warehouse,
    load_dims,
    raw_trx_from_csv,
    run_daily,
)
from etl_tj_project_spark.schemas import TRANSAKSI_BUS_RAW, TRANSAKSI_HALTE_RAW
from tests.gen_fixtures import generate
from tests.oracle_compare import compare_pinned

import duckdb

DS_LIST = ["2025-07-05", "2025-07-15"]


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tj_fixtures")
    generate(str(d))
    return str(d)


@pytest.fixture(scope="module")
def wh_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("tj_warehouse"))


@pytest.fixture(scope="module")
def duck(data_dir):
    con = duckdb.connect()
    for name in (
        "dummy_routes",
        "dummy_shelter_corridor",
        "dummy_realisasi_bus",
        "dummy_transaksi_bus",
        "dummy_transaksi_halte",
    ):
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_csv('{data_dir}/{name}.csv', all_varchar=true, header=true)"
        )
    # Typed dims (DAG 1 semantics)
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
        "CASE WHEN regexp_matches(tanggal_realisasi, '^\\d{4}-\\d{2}-\\d{2}$') "
        "  THEN CAST(strptime(tanggal_realisasi, '%Y-%m-%d') AS DATE) "
        "WHEN regexp_matches(tanggal_realisasi, '^\\d{2}/\\d{2}/\\d{4}$') "
        "  THEN CAST(strptime(tanggal_realisasi, '%d/%m/%Y') AS DATE) "
        "ELSE NULL END AS tanggal_realisasi, "
        f"{norm_body_sql('bus_body_no')} AS bus_body_no_norm, "
        "rute_realisasi FROM dummy_realisasi_bus"
    )
    # Typed transaction views (DAG 2 task 1 semantics)
    con.sql(
        "CREATE VIEW vw_bus AS SELECT "
        "CAST(TRY_CAST(waktu_transaksi AS TIMESTAMP) AS DATE) AS tanggal, "
        "upper(card_type_var) AS card_type, "
        "TRY_CAST(fare_int AS DECIMAL(18,2)) AS amount, "
        "upper(status_var) AS status_var, "
        f"{norm_body_sql('no_body_var')} AS no_body_norm, "
        f"{to_bool_safe_sql('gate_in_boo')} AS gate_in_boo "
        "FROM dummy_transaksi_bus"
    )
    con.sql(
        "CREATE VIEW vw_halte AS SELECT "
        "CAST(TRY_CAST(waktu_transaksi AS TIMESTAMP) AS DATE) AS tanggal, "
        "upper(card_type_var) AS card_type, "
        "TRY_CAST(fare_int AS DECIMAL(18,2)) AS amount, "
        "upper(status_var) AS status_var, "
        "shelter_name_var, "
        f"{to_bool_safe_sql('gate_in_boo')} AS gate_in_boo "
        "FROM dummy_transaksi_halte"
    )
    yield con
    con.close()


@pytest.fixture(scope="module")
def pipeline_outputs(spark, data_dir, wh_dir):
    wh = Warehouse(wh_dir)
    dims = load_dims(spark, data_dir, wh)
    # The staged CSVs live until the module's last test has read them.
    with cache_scope(spark):
        bus, halte = raw_trx_from_csv(spark, data_dir)
        out = {}
        for ds in DS_LIST:
            out[ds] = run_daily(
                spark,
                ds,
                bus_raw=bus,
                halte_raw=halte,
                routes=dims["routes"],
                realisasi_bus=dims["realisasi_bus"],
                shelter_corridor=dims["shelter_corridor"],
                wh=wh,
            )
        yield out


def _day_filter(view: str, ds: str) -> str:
    return f"SELECT * FROM {view} WHERE status_var = 'S' AND tanggal = DATE '{ds}'"


@pytest.mark.parametrize("ds", DS_LIST)
def test_agg_by_card_matches_reference_semantics(duck, pipeline_outputs, ds):
    oracle = f"""
    SELECT tanggal, card_type, gate_in_boo, COUNT(*) AS pelanggan_count,
           CAST(SUM(amount) AS DECIMAL(18,2)) AS amount_sum
    FROM (
      SELECT tanggal, card_type, amount, gate_in_boo FROM ({_day_filter('vw_bus', ds)})
      UNION ALL
      SELECT tanggal, card_type, amount, gate_in_boo FROM ({_day_filter('vw_halte', ds)})
    ) x GROUP BY tanggal, card_type, gate_in_boo
    """
    compare_pinned(pipeline_outputs[ds]["agg_by_card"], duck, oracle)


@pytest.mark.parametrize("ds", DS_LIST)
def test_agg_by_route_matches_reference_semantics(duck, pipeline_outputs, ds):
    oracle = f"""
    SELECT tanggal, route_code, route_name, gate_in_boo,
           COUNT(*) AS pelanggan_count,
           CAST(SUM(amount) AS DECIMAL(18,2)) AS amount_sum
    FROM (
      SELECT b.tanggal, CAST(rb.rute_realisasi AS VARCHAR) AS route_code,
             r.route_name, b.gate_in_boo, b.amount
      FROM ({_day_filter('vw_bus', ds)}) b
      JOIN realisasi_d rb ON rb.bus_body_no_norm = b.no_body_norm
      LEFT JOIN routes_d r ON r.route_code = CAST(rb.rute_realisasi AS VARCHAR)
      UNION ALL
      SELECT h.tanggal, CAST(sc.corridor_code AS VARCHAR) AS route_code,
             r.route_name, h.gate_in_boo, h.amount
      FROM ({_day_filter('vw_halte', ds)}) h
      LEFT JOIN shelter_d sc ON sc.shelter_name_var = h.shelter_name_var
      LEFT JOIN routes_d r ON r.route_code = CAST(sc.corridor_code AS VARCHAR)
    ) y GROUP BY tanggal, route_code, route_name, gate_in_boo
    """
    compare_pinned(pipeline_outputs[ds]["agg_by_route"], duck, oracle)


@pytest.mark.parametrize("ds", DS_LIST)
def test_agg_by_tariff_matches_reference_semantics(duck, pipeline_outputs, ds):
    oracle = f"""
    SELECT tanggal, amount AS tarif, gate_in_boo, COUNT(*) AS pelanggan_count
    FROM (
      SELECT tanggal, amount, gate_in_boo FROM ({_day_filter('vw_bus', ds)})
      UNION ALL
      SELECT tanggal, amount, gate_in_boo FROM ({_day_filter('vw_halte', ds)})
    ) z GROUP BY tanggal, amount, gate_in_boo
    """
    compare_pinned(pipeline_outputs[ds]["agg_by_tariff"], duck, oracle)


def test_realisasi_date_parse_preserves_reference_nulls(spark, data_dir, wh_dir, pipeline_outputs):
    """~90% of generated dates are M/D/YYYY (single-digit month) — they
    match neither regex and must load NULL, like the reference does."""
    real = spark.read.parquet(f"{wh_dir}/dw/realisasi_bus")
    total = real.count()
    nulls = real.filter(real["tanggal_realisasi"].isNull()).count()
    assert total == 515
    assert 0.80 * total < nulls < 0.97 * total


def test_join_fanout_occurs(spark, duck, pipeline_outputs, wh_dir):
    """Normalized-key collisions must fan out the J1 inner join (ref: 515
    bus rows → 571 join rows)."""
    n_raw = duck.sql(
        "SELECT COUNT(*) FROM vw_bus WHERE status_var='S'"
    ).fetchone()[0]
    n_joined = duck.sql(
        "SELECT COUNT(*) FROM (SELECT * FROM vw_bus WHERE status_var='S') b "
        "JOIN realisasi_d rb ON rb.bus_body_no_norm = b.no_body_norm"
    ).fetchone()[0]
    assert n_joined > n_raw  # fan-out
    # and every bus body matched (FIXTURES.md: 100% match rate)
    n_unmatched = duck.sql(
        "SELECT COUNT(*) FROM (SELECT * FROM vw_bus WHERE status_var='S') b "
        "LEFT JOIN (SELECT DISTINCT bus_body_no_norm FROM realisasi_d) rb "
        "ON rb.bus_body_no_norm = b.no_body_norm WHERE rb.bus_body_no_norm IS NULL"
    ).fetchone()[0]
    assert n_unmatched == 0


def test_rerun_is_idempotent(spark, data_dir, wh_dir, pipeline_outputs):
    """Dynamic partition overwrite: re-running a ds must not duplicate
    rows (deliberate improvement over the reference, SURVEY §2.10)."""
    before = spark.read.parquet(f"{wh_dir}/dw/agg_by_card").count()
    wh = Warehouse(wh_dir)
    dims = load_dims(spark, data_dir, wh)
    bus, halte = raw_trx_from_csv(spark, data_dir)
    run_daily(
        spark,
        DS_LIST[0],
        bus_raw=bus,
        halte_raw=halte,
        routes=dims["routes"],
        realisasi_bus=dims["realisasi_bus"],
        shelter_corridor=dims["shelter_corridor"],
        wh=wh,
    )
    after = spark.read.parquet(f"{wh_dir}/dw/agg_by_card").count()
    assert after == before


FRESH_DAY = "2025-07-20"
AGGS = ("agg_by_card", "agg_by_route", "agg_by_tariff")


def _write_trx_csvs(data_dir, n_bus: int, n_halte: int) -> None:
    """``n_bus``/``n_halte`` status-S transactions on FRESH_DAY plus one
    failed transaction per file, which the day filter must drop."""

    def write(name, schema, n, where_col, where):
        rows = [
            {
                "uuid": f"{name}-{i}",
                "waktu_transaksi": f"{FRESH_DAY} 08:00:00",
                where_col: where,
                "card_type_var": "emoney",
                "fare_int": "3500",
                "gate_in_boo": "true",
                "status_var": "S" if i < n else "F",
            }
            for i in range(n + 1)
        ]
        with open(os.path.join(data_dir, f"dummy_transaksi_{name}.csv"), "w") as f:
            f.write(",".join(schema.fieldNames()) + "\n")
            for r in rows:
                f.write(",".join(r.get(c, "") for c in schema.fieldNames()) + "\n")

    write("bus", TRANSAKSI_BUS_RAW, n_bus, "no_body_var", "KLG 1")
    write("halte", TRANSAKSI_HALTE_RAW, n_halte, "shelter_name_var", "Shelter 1")


def _fresh_day_counts(spark, wh_dir) -> dict[str, int]:
    return {
        t: spark.read.parquet(f"{wh_dir}/dw/{t}/tanggal={FRESH_DAY}")
        .agg(F.sum("pelanggan_count"))
        .first()[0]
        for t in AGGS
    }


def test_restaged_csv_is_read_fresh(spark, tmp_path):
    """Staging a rewritten CSV again must not serve the first staging's
    cache: a re-run of the day shows the new rows."""
    data_dir, wh_dir = str(tmp_path / "in"), str(tmp_path / "wh")
    os.makedirs(data_dir)
    dims = {
        "routes": spark.createDataFrame(
            [("1", "Route 1")], "route_code string, route_name string"
        ),
        "realisasi_bus": spark.createDataFrame(
            [("KLG 1", "1")], "body string, rute_realisasi string"
        ).select(
            F.lit(FRESH_DAY).cast("date").alias("tanggal_realisasi"),
            norm_body(F.col("body")).alias("bus_body_no_norm"),
            "rute_realisasi",
        ),
        "shelter_corridor": spark.createDataFrame(
            [("Shelter 1", 1, "Corridor 1")],
            "shelter_name_var string, corridor_code int, corridor_name string",
        ),
    }

    def stage_and_run():
        bus, halte = raw_trx_from_csv(spark, data_dir)
        run_daily(
            spark, FRESH_DAY, bus_raw=bus, halte_raw=halte, **dims,
            wh=Warehouse(wh_dir),
        )
        return _fresh_day_counts(spark, wh_dir)

    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    with cache_scope(spark):
        _write_trx_csvs(data_dir, n_bus=2, n_halte=1)
        assert stage_and_run() == dict.fromkeys(AGGS, 3)
        _write_trx_csvs(data_dir, n_bus=5, n_halte=2)
        assert stage_and_run() == dict.fromkeys(AGGS, 7)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached


def test_partitioned_layout(spark, wh_dir, pipeline_outputs):
    """Aggregates land as tanggal=YYYY-MM-DD partitions; a day-filtered
    read prunes to one partition."""
    import os

    parts = [
        p for p in os.listdir(f"{wh_dir}/dw/agg_by_card") if p.startswith("tanggal=")
    ]
    assert sorted(parts) == [f"tanggal={ds}" for ds in DS_LIST]


def test_atomic_multi_table_commit_crash_leaves_no_partial_day(
    spark, data_dir, wh_dir, pipeline_outputs
):
    """A crash after staging 2 of 3 tables must leave NO table showing the
    new day — the all-or-nothing property the reference gets from its
    single Postgres transaction."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from etl_tj_project_spark import io as lake_io

    tables = ["agg_by_card", "agg_by_route", "agg_by_tariff"]
    new_day = "2025-08-01"
    # Materialize eagerly (collect + recreate): earlier tests overwrite the
    # dim tables these lazy plans read, and a lazy plan over renamed files
    # would fail mid-write.
    outs = {}
    for t in tables:
        src = (
            spark.read.parquet(f"{wh_dir}/dw/{t}")
            .filter(F.col("tanggal") == F.lit(DS_LIST[0]).cast("date"))
            .withColumn("tanggal", F.lit(new_day).cast("date"))
        )
        outs[t] = (
            spark.createDataFrame(src.collect(), src.schema),
            f"{wh_dir}/dw/{t}",
        )

    with pytest.raises(RuntimeError, match="injected crash"):
        lake_io.commit_partitions_atomic(outs, day=new_day, _fail_after=2)
    for t in tables:
        assert not os.path.exists(f"{wh_dir}/dw/{t}/tanggal={new_day}"), t
        assert not os.path.exists(f"{wh_dir}/dw/{t}/.staging-{new_day}"), t
        n = (
            spark.read.parquet(f"{wh_dir}/dw/{t}")
            .filter(F.col("tanggal") == F.lit(new_day))
            .count()
        )
        assert n == 0, t

    # The same commit without the crash publishes all three.
    lake_io.commit_partitions_atomic(outs, day=new_day)
    counts = {
        t: spark.read.parquet(f"{wh_dir}/dw/{t}")
        .filter(F.col("tanggal") == F.lit(new_day))
        .count()
        for t in tables
    }
    assert all(n > 0 for n in counts.values()), counts
    # And re-publishing the same day is idempotent (replaces, not appends).
    lake_io.commit_partitions_atomic(outs, day=new_day)
    for t in tables:
        n = (
            spark.read.parquet(f"{wh_dir}/dw/{t}")
            .filter(F.col("tanggal") == F.lit(new_day))
            .count()
        )
        assert n == counts[t], t


def test_atomic_commit_rolls_back_on_publish_failure(spark, tmp_path, monkeypatch):
    """If a rename fails mid-publish (table 2 of 2), table 1's already-
    published day must be rolled back to its previous contents."""
    import os as _os

    import pytest

    from pyspark.sql import functions as F

    from etl_tj_project_spark import io as lake_io

    d0, d1 = "2025-01-01", "2025-01-02"
    paths = {t: str(tmp_path / t) for t in ("ta", "tb")}

    def day_df(day, v):
        return spark.range(3).select(
            F.col("id"),
            F.lit(v).alias("v"),
            F.lit(day).cast("date").alias("tanggal"),
        )

    # Seed both tables with day d0 = v0.
    lake_io.commit_partitions_atomic(
        {t: (day_df(d0, "v0"), p) for t, p in paths.items()}, day=d0
    )

    # Publish d0 again with v1, but fail the publish rename for table 2.
    real_rename = _os.rename
    calls = {"n": 0}

    def flaky_rename(src, dst):
        # Transient single failure: the rollback's own renames succeed.
        if (
            calls["n"] == 0
            and f"tanggal={d0}" in dst
            and "/tb/" in dst.replace("\\", "/")
        ):
            calls["n"] += 1
            raise OSError("injected publish failure")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected publish failure"):
        lake_io.commit_partitions_atomic(
            {t: (day_df(d0, "v1"), p) for t, p in paths.items()}, day=d0
        )
    monkeypatch.setattr(_os, "rename", real_rename)

    # Both tables must still show the ORIGINAL v0 day — all-or-nothing.
    for t, p in paths.items():
        vals = {r.v for r in spark.read.parquet(p).collect()}
        assert vals == {"v0"}, (t, vals)


def test_atomic_commit_refuses_multi_day_input(spark, tmp_path):
    """Rows outside the declared day would be staged then silently
    dropped by the single-partition publish — must raise instead."""
    import pytest

    from pyspark.sql import functions as F

    from etl_tj_project_spark import io as lake_io

    df = spark.range(4).select(
        "id",
        F.when(F.col("id") < 2, F.lit("2025-01-01"))
        .otherwise(F.lit("2025-01-02"))
        .cast("date")
        .alias("tanggal"),
    )
    with pytest.raises(ValueError, match="partitions beyond"):
        lake_io.commit_partitions_atomic(
            {"t": (df, str(tmp_path / "t"))}, day="2025-01-01"
        )
    # Nothing published, staging cleaned.
    import os

    assert not os.path.exists(str(tmp_path / "t" / "tanggal=2025-01-01"))
    assert not os.path.exists(str(tmp_path / "t" / ".staging-2025-01-01"))


def _day_frames(spark, day: str, stray_day: str | None = None) -> dict:
    """Three small day frames; ``agg_by_route`` also holds ``stray_day``."""
    frames = {}
    for i, t in enumerate(AGGS):
        days = [day] + ([stray_day] if stray_day and t == "agg_by_route" else [])
        frames[t] = spark.range(2 + i).crossJoin(
            spark.createDataFrame([(d,) for d in days], "d string")
        ).select("id", F.col("d").cast("date").alias("tanggal"))
    return frames


def _jobs_of(spark, group: str, action) -> tuple[set, set]:
    """Run ``action`` under job group ``group``; return the ids of the jobs
    listed under the group and of the new jobs listed under none."""
    sc = spark.sparkContext
    listeners, tracker = sc._jsc.sc().listenerBus(), sc.statusTracker()
    listeners.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    listeners.waitUntilEmpty()
    return (
        set(tracker.getJobIdsForGroup(group)),
        set(tracker.getJobIdsForGroup(None)) - ungrouped,
    )


def test_concurrent_writes_keep_the_callers_job_group(spark, data_dir, tmp_path):
    """The staged writes of a commit and the dim writes of load_dims run
    on their own threads; every job they submit must still be listed
    under the caller's job group (per-operation job attribution)."""
    day = "2025-03-01"
    outs = {t: (df, str(tmp_path / t)) for t, df in _day_frames(spark, day).items()}
    grouped, ungrouped = _jobs_of(
        spark, "test:commit",
        lambda: lake_io.commit_partitions_atomic(outs, day=day),
    )
    assert len(grouped) >= len(AGGS) and not ungrouped, (grouped, ungrouped)

    grouped, ungrouped = _jobs_of(
        spark, "test:load_dims",
        lambda: load_dims(spark, data_dir, Warehouse(str(tmp_path / "wh"))),
    )
    assert len(grouped) >= 3 and not ungrouped, (grouped, ungrouped)


def test_concurrent_commit_with_a_stray_day_publishes_nothing(
    spark, tmp_path, monkeypatch
):
    """One of three tables holds a second day: the commit raises, and no
    table keeps a staging directory or shows the day, although the other
    two staged writes only finish after the failing one has raised."""
    day, stray = "2025-03-01", "2025-03-02"
    outs = {
        t: (df, str(tmp_path / t))
        for t, df in _day_frames(spark, day, stray_day=stray).items()
    }
    failed = threading.Event()
    written = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        # The stray table's write completes first and the others only
        # start then, so they finish after its stray check has raised.
        if "agg_by_route" not in path:
            assert failed.wait(timeout=60)
        real_parquet(self, path, *args, **kwargs)
        written.append(path)
        failed.set()

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(ValueError, match="partitions beyond"):
        lake_io.commit_partitions_atomic(outs, day=day)
    assert len(written) == len(AGGS)  # the commit waited for every write
    for t in AGGS:
        assert not os.path.exists(str(tmp_path / t / f".staging-{day}")), t
        assert not os.path.exists(str(tmp_path / t / f"tanggal={day}")), t


def test_concurrent_commit_counts_every_staged_write(spark, tmp_path):
    """Eight concurrent staged writes with a tiny switch interval: the
    crash hook fires only if no completion count is lost, and the crash
    still leaves no staging directory or partition behind."""
    import sys

    day = "2025-03-01"
    df = spark.range(2).select("id", F.lit(day).cast("date").alias("tanggal"))
    outs = {f"t{i}": (df, str(tmp_path / f"t{i}")) for i in range(8)}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            lake_io.commit_partitions_atomic(outs, day=day, _fail_after=len(outs))
    finally:
        sys.setswitchinterval(interval)
    for t, (_df, path) in outs.items():
        assert not os.path.exists(os.path.join(path, f".staging-{day}")), t
        assert not os.path.exists(os.path.join(path, f"tanggal={day}")), t


def test_csv_staging_quarantines_corrupt_rows(spark, tmp_path):
    """Rows whose token count disagrees with the staging schema must
    carry their RAW LINE in the audit column (best-effort prefix parse
    alongside) — never silently mangled, never aborting the load (the
    reference's COPY would abort; S1 keeps running and makes failures
    queryable)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl_tj_project_spark.sources.csv import read_csv_staging

    p = tmp_path / "dirty.csv"
    p.write_text(
        "id,name\n"
        "1,alpha\n"
        "4,delta,EXTRA,MORE\n"  # too many columns
        "5\n"                   # too few columns
        "3,gamma\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
        ]
    )
    df = read_csv_staging(
        spark, str(p), schema, corrupt_col="_corrupt_record"
    ).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted((r.id, r.name) for r in good.collect()) == [
        ("1", "alpha"), ("3", "gamma"),
    ]
    assert sorted(r._corrupt_record for r in bad.collect()) == [
        "4,delta,EXTRA,MORE", "5",
    ]
    df.unpersist()
    # Default path (no corrupt_col) keeps the historical 2-column shape.
    plain = read_csv_staging(spark, str(p), schema)
    assert plain.columns == ["id", "name"]
