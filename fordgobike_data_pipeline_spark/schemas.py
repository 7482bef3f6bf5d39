"""Explicit schemas (schema-on-write — no inferSchema in production paths).

Mirrors the reference's fixed DDL approach (`include/sql/bronze/init_db.py:64-106`,
`include/sql/silver/silver_ddl.sql:1-67`) — see SURVEY.md §1.2/§1.3 for the
Postgres→Spark type mapping. Three groups:

1. FordGoBike domain schemas (bronze raw trips + geocoded locations) for
   the end-to-end pipeline (plans/).
2. The driver-provided testdata tables (TESTDATA.md) used by the
   oracle-differential harness.
3. The published warehouse tables (bronze/silver/gold/_state) that
   ``plans.runner.Warehouse.read`` binds its scans to.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# 1. FordGoBike domain (reference: include/sql/bronze/init_db.py:67-88)
# ---------------------------------------------------------------------------

# Raw trip rows as landed from CSV. station ids are float-like strings in the
# raw files (e.g. "74.0") — kept as strings in bronze, cleaned in silver,
# matching the reference's VARCHAR(50) columns (init_db.py:72-73,80-81).
TRIPS_RAW = T.StructType(
    [
        T.StructField("duration_sec", T.IntegerType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("start_station_id", T.StringType()),
        T.StructField("start_station_name", T.StringType()),
        T.StructField("start_station_latitude", T.DoubleType()),
        T.StructField("start_station_longitude", T.DoubleType()),
        T.StructField("end_station_id", T.StringType()),
        T.StructField("end_station_name", T.StringType()),
        T.StructField("end_station_latitude", T.DoubleType()),
        T.StructField("end_station_longitude", T.DoubleType()),
        T.StructField("bike_id", T.StringType()),
        T.StructField("user_type", T.StringType()),
        T.StructField("member_birth_year", T.IntegerType()),
        T.StructField("member_gender", T.StringType()),
        T.StructField("bike_share_for_all_trip", T.StringType()),
        # injected at load time from the filename prefix
        # (reference: include/sql/bronze/load_bronze.py:48-71)
        T.StructField("period", T.StringType()),
    ]
)

# Reverse-geocoded location lookup, unique on (latitude, longitude)
# (reference: include/sql/bronze/init_db.py:90-104; fields extracted at
# include/modules/get_locations.py:71-87).
LOCATIONS_GEO = T.StructType(
    [
        T.StructField("location_id", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("highway", T.StringType()),
        T.StructField("road", T.StringType()),
        T.StructField("neighbourhood", T.StringType()),
        T.StructField("suburb", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("postcode", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("display_name", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# 2. Driver testdata tables (TESTDATA.md; verified against the sf0.001 files)
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ---------------------------------------------------------------------------
# 3. Warehouse tables (plans/runner.py; reference: silver_ddl.sql:1-67,
#    gold_ddl.sql:11-193)
# ---------------------------------------------------------------------------


def _ddl(schema: T.StructType) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


# One DDL line per table, in the column order a footer-inferred read
# returns: data columns as written, partition columns (_batch_id,
# p_year) last. A read bound to these skips parquet footer inference —
# one Spark job per scan otherwise.
WAREHOUSE_TABLES = {
    ("bronze", "bike_trips"): _ddl(TRIPS_RAW) + ", trip_id BIGINT, created_at TIMESTAMP, _batch_id INT",
    ("bronze", "locations"): _ddl(LOCATIONS_GEO),
    ("silver", "dim_locations"): "location_id BIGINT, latitude DOUBLE, longitude DOUBLE, highway STRING, road STRING, neighbourhood STRING, suburb STRING, city STRING, state STRING, postcode STRING, country STRING, display_name STRING, station_name STRING",
    ("silver", "dim_user_types"): "user_type_id BIGINT, user_type STRING, member_birth_year INT, member_gender STRING, bike_share_for_all_trip STRING",
    ("silver", "dim_date"): "date_id INT, year INT, month INT, month_name STRING, day INT, quarter INT, day_of_week INT, day_name STRING, is_weekend BOOLEAN",
    ("silver", "fact_trips"): "_batch_id INT, trip_id BIGINT, duration_min INT, start_location_id BIGINT, start_date_id INT, start_time STRING, end_location_id BIGINT, end_date_id INT, end_time STRING, bike_id STRING, user_type_id BIGINT, p_year INT",
    ("gold", "dm_daily_trip_summary"): "start_hour INT, date DATE, year INT, month_name STRING, day_name STRING, is_weekend BOOLEAN, total_trips BIGINT, total_duration_min BIGINT, avg_duration_min DOUBLE, unique_bikes_used BIGINT",
    ("gold", "dm_station_popularity"): "station_name STRING, city STRING, latitude DOUBLE, longitude DOUBLE, display_name STRING, total_trips_started BIGINT, total_trips_ended BIGINT, net_flow BIGINT, total_trips BIGINT",
    ("gold", "dm_popular_routes"): "route_id STRING, start_station_name STRING, end_station_name STRING, start_location_id BIGINT, end_location_id BIGINT, trip_count BIGINT, avg_duration_min DOUBLE",
    ("gold", "dm_user_behavior_summary"): "user_type STRING, member_gender STRING, bike_share_for_all_trip STRING, age INT, total_trips BIGINT, total_duration_min BIGINT, avg_duration_min DOUBLE",
    ("gold", "dim_locations_view"): "id BIGINT, lat DOUBLE, lng DOUBLE, highway_name STRING, road_name STRING, neighborhood STRING, suburb_name STRING, city_name STRING, state_name STRING, postal_code STRING, country_name STRING, full_address STRING, station_name STRING",
    ("gold", "dim_user_types_view"): "id BIGINT, user_category STRING, birth_year INT, gender STRING, bike_share_option STRING",
    ("gold", "dim_date_view"): "id INT, year_number INT, month_number INT, month_name_text STRING, day_number INT, quarter_number INT, weekday_number INT, weekday_name STRING, weekend_flag BOOLEAN",
    ("gold", "fact_trips_view"): "id BIGINT, duration_minutes INT, start_location BIGINT, start_date INT, start_time_of_day STRING, end_location BIGINT, end_date INT, end_time_of_day STRING, bike_identifier STRING, user_type BIGINT",
    ("_state", "run_metrics"): "batch_id INT, stage STRING, wall_sec DOUBLE",
}
