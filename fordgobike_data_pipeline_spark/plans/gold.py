"""Gold layer — four aggregate data marts + four renaming views.

Re-expresses the reference's materialized views
(include/sql/gold/gold_ddl.sql:11-193). Refresh semantics
(`REFRESH MATERIALIZED VIEW`, gold_ddl.sql:201-244) become recompute +
atomic overwrite in plans/runner.py (full, or spliced over the groups a
new batch touches); the four marts are independent
DataFrame jobs (the reference fans them out in parallel,
dags/gold_dag.py:70 — Spark's scheduler does the same within a session).

Scale notes: every dim join broadcasts; the fact is scanned once per
mart with partial aggregation map-side. Exchange reuse makes the twin
starts/ends branches share the fact scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dm_daily_trip_summary(fact_trips: DataFrame, dim_date: DataFrame) -> DataFrame:
    """gold.dm_daily_trip_summary (gold_ddl.sql:11-26): by (hour, date):
    count/sum/avg/countDistinct. start_time is 'HH:mm:ss' → hour is the
    leading 2 chars."""
    from ..functions import exprs as E

    return (
        fact_trips.join(F.broadcast(dim_date), fact_trips.start_date_id == dim_date.date_id)
        .groupBy(
            F.substring("start_time", 1, 2).cast("int").alias("start_hour"),
            E.key_to_date("date_id").alias("date"),
            "year",
            "month_name",
            "day_name",
            "is_weekend",
        )
        .agg(
            F.count("trip_id").alias("total_trips"),
            F.sum("duration_min").alias("total_duration_min"),
            F.avg("duration_min").alias("avg_duration_min"),
            F.countDistinct("bike_id").alias("unique_bikes_used"),
        )
    )


def dm_station_popularity(
    fact_trips: DataFrame, dim_locations: DataFrame, end_trips: DataFrame | None = None
) -> DataFrame:
    """gold.dm_station_popularity (gold_ddl.sql:28-91): starts ∪ ends via
    FULL OUTER, COALESCE key + zero defaults, net_flow/total, pre-aggregated
    station_details left-joined back (MAX-dedup, gold_ddl.sql:53-67).

    Starts are counted over ``fact_trips``, ends over ``end_trips``
    (default: the same rows) — the incremental refresh passes each side
    its own semi-join slice instead of a deduplicated union of both."""
    if end_trips is None:
        end_trips = fact_trips
    loc = F.broadcast(dim_locations)
    starts = (
        fact_trips.join(loc, fact_trips.start_location_id == dim_locations.location_id)
        .groupBy("station_name")
        .agg(F.count("trip_id").alias("total_starts"))
    )
    ends = (
        end_trips.join(loc, end_trips.end_location_id == dim_locations.location_id)
        .groupBy("station_name")
        .agg(F.count("trip_id").alias("total_ends"))
    )
    details = (
        dim_locations.filter(F.col("station_name").isNotNull())
        .groupBy("station_name")
        .agg(
            F.max("city").alias("city"),
            F.max("latitude").alias("latitude"),
            F.max("longitude").alias("longitude"),
            F.max("display_name").alias("display_name"),
        )
    )
    n_starts = F.coalesce("total_starts", F.lit(0))
    n_ends = F.coalesce("total_ends", F.lit(0))
    return (
        starts.join(ends, "station_name", "full_outer")
        .join(F.broadcast(details), "station_name", "left")
        .filter(F.col("station_name").isNotNull())
        .select(
            "station_name",
            "city",
            "latitude",
            "longitude",
            "display_name",
            n_starts.alias("total_trips_started"),
            n_ends.alias("total_trips_ended"),
            (n_starts - n_ends).alias("net_flow"),
            (n_starts + n_ends).alias("total_trips"),
        )
    )


def dm_popular_routes(fact_trips: DataFrame, dim_locations: DataFrame) -> DataFrame:
    """gold.dm_popular_routes (gold_ddl.sql:94-113): role-playing left
    joins ×2, both names NOT NULL, `a -> b` route id, count/avg."""
    sl = dim_locations.select(
        F.col("location_id").alias("start_location_id"),
        F.col("station_name").alias("start_station_name"),
    )
    el = dim_locations.select(
        F.col("location_id").alias("end_location_id"),
        F.col("station_name").alias("end_station_name"),
    )
    return (
        fact_trips.join(F.broadcast(sl), "start_location_id", "left")
        .join(F.broadcast(el), "end_location_id", "left")
        .filter(
            F.col("start_station_name").isNotNull() & F.col("end_station_name").isNotNull()
        )
        .groupBy(
            "start_station_name", "end_station_name", "start_location_id", "end_location_id"
        )
        .agg(
            F.count("trip_id").alias("trip_count"),
            F.avg("duration_min").alias("avg_duration_min"),
        )
        .select(
            F.concat(
                F.col("start_station_name"), F.lit(" -> "), F.col("end_station_name")
            ).alias("route_id"),
            "start_station_name",
            "end_station_name",
            "start_location_id",
            "end_location_id",
            "trip_count",
            "avg_duration_min",
        )
    )


def dm_user_behavior_summary(
    fact_trips: DataFrame, dim_user_types: DataFrame, dim_date: DataFrame
) -> DataFrame:
    """gold.dm_user_behavior_summary (gold_ddl.sql:116-132): grouped by
    (user_type, gender, bike_share, derived age = trip year − birth year)."""
    return (
        fact_trips.join(
            F.broadcast(dim_user_types),
            fact_trips.user_type_id == dim_user_types.user_type_id,
        )
        .join(F.broadcast(dim_date), fact_trips.start_date_id == dim_date.date_id)
        .groupBy(
            "user_type",
            "member_gender",
            "bike_share_for_all_trip",
            (F.col("year") - F.col("member_birth_year")).alias("age"),
        )
        .agg(
            F.count("trip_id").alias("total_trips"),
            F.sum("duration_min").alias("total_duration_min"),
            F.avg("duration_min").alias("avg_duration_min"),
        )
    )


# ---------------------------------------------------------------------------
# Renaming views (gold_ddl.sql:135-193) — pure projection/alias
# ---------------------------------------------------------------------------


def dim_locations_view(dim_locations: DataFrame) -> DataFrame:
    """gold.dim_locations_view (gold_ddl.sql:135-150)."""
    return dim_locations.select(
        F.col("location_id").alias("id"),
        F.col("latitude").alias("lat"),
        F.col("longitude").alias("lng"),
        F.col("highway").alias("highway_name"),
        F.col("road").alias("road_name"),
        F.col("neighbourhood").alias("neighborhood"),
        F.col("suburb").alias("suburb_name"),
        F.col("city").alias("city_name"),
        F.col("state").alias("state_name"),
        F.col("postcode").alias("postal_code"),
        F.col("country").alias("country_name"),
        F.col("display_name").alias("full_address"),
        "station_name",
    )


def dim_user_types_view(dim_user_types: DataFrame) -> DataFrame:
    """gold.dim_user_types_view (gold_ddl.sql:155-162)."""
    return dim_user_types.select(
        F.col("user_type_id").alias("id"),
        F.col("user_type").alias("user_category"),
        F.col("member_birth_year").alias("birth_year"),
        F.col("member_gender").alias("gender"),
        F.col("bike_share_for_all_trip").alias("bike_share_option"),
    )


def dim_date_view(dim_date: DataFrame) -> DataFrame:
    """gold.dim_date_view (gold_ddl.sql:166-177)."""
    return dim_date.select(
        F.col("date_id").alias("id"),
        F.col("year").alias("year_number"),
        F.col("month").alias("month_number"),
        F.col("month_name").alias("month_name_text"),
        F.col("day").alias("day_number"),
        F.col("quarter").alias("quarter_number"),
        F.col("day_of_week").alias("weekday_number"),
        F.col("day_name").alias("weekday_name"),
        F.col("is_weekend").alias("weekend_flag"),
    )


def fact_trips_view(fact_trips: DataFrame) -> DataFrame:
    """gold.fact_trips_view (gold_ddl.sql:181-193)."""
    return fact_trips.select(
        F.col("trip_id").alias("id"),
        F.col("duration_min").alias("duration_minutes"),
        F.col("start_location_id").alias("start_location"),
        F.col("start_date_id").alias("start_date"),
        F.col("start_time").alias("start_time_of_day"),
        F.col("end_location_id").alias("end_location"),
        F.col("end_date_id").alias("end_date"),
        F.col("end_time").alias("end_time_of_day"),
        F.col("bike_id").alias("bike_identifier"),
        F.col("user_type_id").alias("user_type"),
    )
