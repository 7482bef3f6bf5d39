"""End-to-end medallion pipeline test (SURVEY §5.3): bronze → silver →
gold on the FordGoBike-shaped fixture, mirroring the reference
notebook's manual audits plus incremental/idempotency properties."""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fordgobike_data_pipeline_spark.plans import runner, silver
from fordgobike_data_pipeline_spark.plans.runner import Warehouse
from fordgobike_data_pipeline_spark.schemas import WAREHOUSE_TABLES

from . import fixtures


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse"))
    w = Warehouse(root)
    runner.run_pipeline(
        spark, w, fixtures.trips_df(spark), fixtures.locations_df(spark), batch_id=1
    )
    return w


def _last_job_id(spark) -> int:
    """Id of the newest job the status store has seen (-1 if none)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_dim_locations(spark, wh):
    dim = wh.read(spark, "silver", "dim_locations").collect()
    by_coord = {(round(r.latitude, 4), round(r.longitude, 4)): r for r in dim}
    # non-CA geocode excluded (P2)
    assert (39.5296, -119.8138) not in by_coord
    # one row per CA coordinate
    assert len(dim) == 4
    # city default applied where geocode city was NULL (F4)
    emery = by_coord[(37.8312, -122.2852)]
    assert emery.city == "Emeryville"
    # 'NULL' string sentinel became real NULL (F5): the (0,0) start rows
    # carry no station name, but every CA coord here has a proper name
    assert all(r.station_name is None or r.station_name != "NULL" for r in dim)
    # surrogate keys unique + deterministic
    assert len({r.location_id for r in dim}) == 4


def test_dim_date(spark, wh):
    dim = wh.read(spark, "silver", "dim_date").orderBy("date_id").collect()
    # contiguous spine from min to max trip date
    ids = [r.date_id for r in dim]
    assert ids[0] == 20180105
    assert len(ids) == len(set(ids))
    d0 = dim[0]
    assert (d0.year, d0.month, d0.day) == (2018, 1, 5)
    assert d0.month_name == "January" and d0.day_name == "Friday"
    assert d0.day_of_week == 5 and d0.is_weekend is False  # PG dow: Fri=5
    sat = next(r for r in dim if r.day_name == "Saturday")
    assert sat.is_weekend is True and sat.day_of_week == 6


def test_dim_user_types(spark, wh):
    dim = wh.read(spark, "silver", "dim_user_types")
    rows = dim.collect()
    # 2 user types × (birth-year span + NULL) × 4 genders × 2 bike_share
    birth_span = {r.member_birth_year for r in rows}
    assert None in birth_span
    assert min(b for b in birth_span if b is not None) == 1878
    assert max(b for b in birth_span if b is not None) == 2017
    n_years = len(birth_span)
    assert len(rows) == 2 * n_years * 4 * 2
    assert dim.select("user_type_id").distinct().count() == len(rows)


def test_fact_trips(spark, wh):
    fact = wh.read(spark, "silver", "fact_trips")
    trips = fixtures.make_trips()
    assert fact.count() == len(trips)
    # FK integrity (the reference declares FKs, silver_ddl.sql:62-66)
    dim_ut = wh.read(spark, "silver", "dim_user_types")
    orphans = fact.join(dim_ut, "user_type_id", "left_anti")
    assert orphans.count() == 0
    # duration_min round-half-up (F15): 90s → 2 (1.5 up), 125s → 2 (2.08 down)
    r2 = fact.filter(F.col("duration_min") == 2).count()
    assert r2 == sum(1 for t in trips if t["duration_sec"] in (90, 125))
    # no location FK for (0,0) sentinels or the non-CA (Nevada) station —
    # both are absent from dim_locations
    n_unmatched = sum(
        1 for t in trips if t["start_station_latitude"] in (0.0, 39.5296)
    )
    assert fact.filter(F.col("start_location_id").isNull()).count() == n_unmatched
    # TIME representation is HH:mm:ss (SURVEY §7 hard part)
    t = fact.select("start_time").first()[0]
    dt.datetime.strptime(t, "%H:%M:%S")


def test_gold_station_popularity(spark, wh):
    pop = wh.read(spark, "gold", "dm_station_popularity").collect()
    fact = wh.read(spark, "silver", "fact_trips")
    dim = wh.read(spark, "silver", "dim_locations")
    named = dim.filter(F.col("station_name").isNotNull())
    starts = fact.join(named, fact.start_location_id == named.location_id).count()
    ends = fact.join(named, fact.end_location_id == named.location_id).count()
    assert sum(r.total_trips_started for r in pop) == starts
    assert sum(r.total_trips_ended for r in pop) == ends
    assert sum(r.net_flow for r in pop) == starts - ends
    for r in pop:
        assert r.total_trips == r.total_trips_started + r.total_trips_ended
        assert r.station_name is not None
    # every named CA station must survive — a 'NULL' sentinel must never
    # win the dim_locations dedup (regression: sentinel sorted before
    # real names and nulled the station out of every mart)
    assert {r.station_name for r in pop} == {
        "Market St at 10th St", "San Jose Diridon",
        "Oakland 19th St", "Emeryville Town Hall",
    }


def test_gold_daily_summary(spark, wh):
    dm = wh.read(spark, "gold", "dm_daily_trip_summary")
    fact = wh.read(spark, "silver", "fact_trips")
    assert dm.agg(F.sum("total_trips")).first()[0] == fact.count()
    hours = [r.start_hour for r in dm.select("start_hour").distinct().collect()]
    assert all(0 <= h <= 23 for h in hours)


def test_gold_popular_routes(spark, wh):
    routes = wh.read(spark, "gold", "dm_popular_routes").collect()
    for r in routes:
        assert r.route_id == f"{r.start_station_name} -> {r.end_station_name}"
        assert r.trip_count > 0


def test_gold_user_behavior(spark, wh):
    dm = wh.read(spark, "gold", "dm_user_behavior_summary")
    rows = dm.collect()
    # cleaned ages only: 18..100 or NULL (F6)
    for r in rows:
        assert r.age is None or 18 <= r.age <= 100 + 1
    assert dm.agg(F.sum("total_trips")).first()[0] == wh.read(
        spark, "silver", "fact_trips"
    ).count()


def test_renaming_views(spark, wh):
    v = wh.read(spark, "gold", "dim_date_view")
    assert set(v.columns) == {
        "id", "year_number", "month_number", "month_name_text", "day_number",
        "quarter_number", "weekday_number", "weekday_name", "weekend_flag",
    }


def test_silver_idempotent_rerun(spark, wh):
    """Re-running silver with no new bronze batch is a no-op (D2/D3)."""
    before = wh.read(spark, "silver", "fact_trips").count()
    out = runner.build_silver(spark, wh)
    assert out == {"consumed_batches": 0}
    assert wh.read(spark, "silver", "fact_trips").count() == before


def test_incremental_second_batch(spark, wh):
    """A second batch only appends its own slice; dims grow by new keys
    only and existing surrogate keys are stable."""
    dim_before = {
        r.location_id for r in wh.read(spark, "silver", "dim_locations").collect()
    }
    fact_before = wh.read(spark, "silver", "fact_trips").count()
    new_rows = fixtures.make_trips(n=60, seed=11, start_day=10)
    runner.ingest_bronze(spark, wh, fixtures.trips_df(spark, new_rows), batch_id=2)
    runner.build_silver(spark, wh)
    assert wh.read(spark, "silver", "fact_trips").count() == fact_before + 60
    dim_after = {
        r.location_id for r in wh.read(spark, "silver", "dim_locations").collect()
    }
    assert dim_before <= dim_after
    # date spine extended to cover the later batch
    max_date = wh.read(spark, "silver", "dim_date").agg(F.max("date_id")).first()[0]
    assert max_date >= 20180118


def test_incremental_gold_refresh_equals_full(spark, wh):
    """Splicing only the affected groups must reproduce the full
    recompute for all four marts (runs after the second batch landed,
    over marts last published at batch 1)."""
    from fordgobike_data_pipeline_spark.plans import gold as gold_mod

    runner.build_gold_incremental(spark, wh, new_batch_min=2)
    fact = wh.read(spark, "silver", "fact_trips")
    dim_loc = wh.read(spark, "silver", "dim_locations")
    dim_ut = wh.read(spark, "silver", "dim_user_types")
    dim_date = wh.read(spark, "silver", "dim_date")
    full = {
        "dm_daily_trip_summary": gold_mod.dm_daily_trip_summary(fact, dim_date),
        "dm_station_popularity": gold_mod.dm_station_popularity(fact, dim_loc),
        "dm_popular_routes": gold_mod.dm_popular_routes(fact, dim_loc),
        "dm_user_behavior_summary": gold_mod.dm_user_behavior_summary(
            fact, dim_ut, dim_date
        ),
    }
    for table, want_df in full.items():
        got = {tuple(r) for r in wh.read(spark, "gold", table).collect()}
        want = {tuple(r) for r in want_df.collect()}
        assert got == want, f"{table}: incremental != full"


def test_incremental_gold_refreshes_views(spark, wh, tmp_path):
    """After batch 2 + build_gold_incremental (previous tests), every
    renaming view equals the one a full build_gold publishes."""
    full = Warehouse(str(tmp_path))
    os.symlink(os.path.join(wh.root, "silver"), os.path.join(full.root, "silver"))
    runner.build_gold(spark, full)
    for view in ("dim_locations_view", "dim_user_types_view", "dim_date_view", "fact_trips_view"):
        got, want = wh.read(spark, "gold", view), full.read(spark, "gold", view)
        assert _rows(got) == _rows(want), f"{view}: stale after build_gold_incremental"


def test_warehouse_reads_are_schema_bound(spark, wh):
    """Every table run_pipeline + one incremental batch wrote is
    declared, its footer schema equals the declared one (names, types,
    order), and Warehouse.read of it runs no Spark job."""
    on_disk = {
        (layer, table)
        for layer in ("bronze", "silver", "gold", "_state")
        for table in os.listdir(os.path.join(wh.root, layer))
        if os.path.isdir(wh.path(layer, table))
    }
    assert on_disk == set(WAREHOUSE_TABLES)
    for (layer, table), ddl in WAREHOUSE_TABLES.items():
        inferred = spark.read.parquet(wh.path(layer, table)).schema
        declared = T.StructType.fromDDL(ddl)
        assert [(f.name, f.dataType) for f in inferred] == [
            (f.name, f.dataType) for f in declared
        ], f"{layer}.{table}"
        before = _last_job_id(spark)
        df = wh.read(spark, layer, table)
        assert df.columns == declared.names
        assert _last_job_id(spark) == before, f"reading {layer}.{table} ran a job"


def test_catalog_registration(spark, wh):
    """D1: published tables addressable by <layer>.<name> via the
    catalog after registration."""
    from fordgobike_data_pipeline_spark.plans import ddl

    registered = ddl.register_warehouse_tables(spark, wh)
    assert "silver.fact_trips" in registered
    assert "gold.dm_station_popularity" in registered
    n = spark.table("silver.fact_trips").count()
    assert n == spark.read.parquet(wh.path("silver", "fact_trips")).count()
    # idempotent re-registration
    assert set(ddl.register_warehouse_tables(spark, wh)) == set(registered)


def test_publish_failure_leaves_old_table_intact(spark, tmp_path):
    """D4 atomicity: a failing recompute must not damage the published
    table — the swap happens only after the new write succeeds."""
    from fordgobike_data_pipeline_spark.io import publish_overwrite

    path = str(tmp_path / "mart")
    publish_overwrite(spark.range(100).toDF("n"), path)

    bad = spark.range(10).selectExpr(
        "CASE WHEN id < 5 THEN id ELSE raise_error('boom') END AS n"
    )
    with pytest.raises(Exception):
        publish_overwrite(bad, path)
    # old version still fully readable
    assert spark.read.parquet(path).count() == 100
    # and a later good publish still succeeds
    publish_overwrite(spark.range(7).toDF("n"), path)
    assert spark.read.parquet(path).count() == 7


def test_sql_front_door(spark, wh):
    """A reference user's SQL runs verbatim after registration."""
    from fordgobike_data_pipeline_spark import sql as engine_sql

    engine_sql.register_warehouse(spark, wh.root)
    top = engine_sql.sql(
        spark,
        """
        SELECT station_name, total_trips
        FROM gold.dm_station_popularity
        ORDER BY total_trips DESC, station_name LIMIT 3
        """,
    ).collect()
    assert len(top) == 3 and top[0].total_trips >= top[-1].total_trips

    engine_sql.register_testdata(spark, "/root/testdata/sf0.001")
    n = engine_sql.sql(spark, "SELECT count(*) AS n FROM lineitem").first().n
    assert n > 0


def test_metrics_table(spark, wh):
    m = wh.read(spark, "_state", "run_metrics")
    stages = {r.stage for r in m.collect()}
    assert {"bronze", "locations", "silver", "gold"} <= stages


# silver + build_gold_incremental of one 60-trip fixture drop, as
# measured (70 before reads were schema-bound and the fact append-only):
# 3 dim publishes and the fact append in silver, 4 mart splices and 4
# view writes in gold, each with its AQE query-stage jobs
DROP_JOB_BUDGET = 54


def test_daily_drop_job_budget_and_append_only_fact(spark, tmp_path):
    """A daily drop costs a bounded number of jobs; the fact is
    append-only (rows = trips ingested after three batches) and a rerun
    of silver or incremental gold adds nothing."""
    wh = Warehouse(str(tmp_path))
    trips = fixtures.make_trips()
    runner.run_pipeline(
        spark, wh, fixtures.trips_df(spark, trips), fixtures.locations_df(spark), batch_id=1
    )
    ingested = len(trips)
    for batch_id, start_day in ((2, 10), (3, 14)):
        rows = fixtures.make_trips(n=60, seed=20 + batch_id, start_day=start_day)
        runner.ingest_bronze(spark, wh, fixtures.trips_df(spark, rows), batch_id=batch_id)
        ingested += len(rows)
        first = _last_job_id(spark)
        assert runner.build_silver(spark, wh) == {"consumed_batches": 1}
        runner.build_gold_incremental(spark, wh, new_batch_min=batch_id)
        jobs = _last_job_id(spark) - first
        assert jobs <= DROP_JOB_BUDGET, f"batch {batch_id}: {jobs} jobs"
    assert wh.read(spark, "silver", "fact_trips").count() == ingested

    assert runner.build_silver(spark, wh) == {"consumed_batches": 0}
    runner.build_gold_incremental(spark, wh, new_batch_min=3)
    assert wh.read(spark, "silver", "fact_trips").count() == ingested
    assert wh.read(spark, "gold", "fact_trips_view").count() == ingested
