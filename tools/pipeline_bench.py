"""Pipeline-scale benchmark: push N synthetic FordGoBike-shaped trips
(generated Spark-side from spark.range — no driver loop) through
bronze → silver → gold and print per-stage wall times, then land two
3k-trip daily drops through silver → incremental gold and print each
drop's wall times (the daily path's cost against an N-trip history).

    python tools/pipeline_bench.py [n_trips]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fordgobike_data_pipeline_spark.plans import runner  # noqa: E402
from fordgobike_data_pipeline_spark.plans.runner import Warehouse  # noqa: E402
from fordgobike_data_pipeline_spark.schemas import LOCATIONS_GEO  # noqa: E402
from fordgobike_data_pipeline_spark.session import get_spark  # noqa: E402

N_STATIONS = 200
DROP_TRIPS = 3_000  # one daily drop, the size perfbench's daily_etl lands


def synth_trips(spark, n: int):
    """Deterministic trips derived from spark.range — generation scales
    with the cluster, not the driver."""
    base = spark.range(n)
    s = (F.col("id") * 2654435761 % N_STATIONS).cast("int")
    e = (F.col("id") * 40503 % N_STATIONS).cast("int")
    start = F.timestamp_seconds(F.lit(1514764800) + (F.col("id") % 2592000))
    dur = (61 + (F.col("id") * 97) % 7200).cast("int")
    return base.select(
        dur.alias("duration_sec"),
        start.alias("start_time"),
        F.timestamp_seconds(F.unix_timestamp(start) + dur).alias("end_time"),
        s.cast("string").alias("start_station_id"),
        F.concat(F.lit("Station "), s).alias("start_station_name"),
        (37.3 + s * 0.003).alias("start_station_latitude"),
        (-122.5 + s * 0.003).alias("start_station_longitude"),
        e.cast("string").alias("end_station_id"),
        F.concat(F.lit("Station "), e).alias("end_station_name"),
        (37.3 + e * 0.003).alias("end_station_latitude"),
        (-122.5 + e * 0.003).alias("end_station_longitude"),
        (F.col("id") % 5000).cast("string").alias("bike_id"),
        F.when(F.col("id") % 3 == 0, "Customer").otherwise("Subscriber").alias("user_type"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise((1950 + F.col("id") % 55).cast("int"))
        .alias("member_birth_year"),
        F.when(F.col("id") % 11 == 0, None)
        .when(F.col("id") % 2 == 0, "Male")
        .otherwise("Female")
        .alias("member_gender"),
        F.when(F.col("id") % 13 == 0, None)
        .when(F.col("id") % 2 == 0, "Yes")
        .otherwise("No")
        .alias("bike_share_for_all_trip"),
        F.lit("201801").alias("period"),
    )


def synth_drop(spark, day: int):
    """DROP_TRIPS trips on day ``day`` after the history's 30 days."""
    shift = F.expr(f"INTERVAL {30 + day} DAYS")
    return (
        synth_trips(spark, DROP_TRIPS)
        .withColumn("start_time", F.col("start_time") + shift)
        .withColumn("end_time", F.col("end_time") + shift)
    )


def synth_geo(spark):
    rows = []
    for i in range(N_STATIONS):
        rows.append(
            (
                f"place_{i}", 37.3 + i * 0.003, -122.5 + i * 0.003,
                None, f"Road {i}", None, None, f"City{i % 12}", "California",
                f"9{i:04d}", "United States", f"Station {i}, California",
            )
        )
    return spark.createDataFrame(rows, LOCATIONS_GEO)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark(app_name="pipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")
    wh = Warehouse(tempfile.mkdtemp(prefix="plbench_"))
    trips = synth_trips(spark, n)
    geo = synth_geo(spark)
    t0 = time.perf_counter()
    runner.run_pipeline(spark, wh, trips, geo, batch_id=1)
    total = time.perf_counter() - t0
    metrics = wh.read(spark, "_state", "run_metrics").orderBy("stage").collect()
    fact_n = wh.read(spark, "silver", "fact_trips").count()
    print(f"pipeline n_trips={n} fact_rows={fact_n} total={total:.2f}s")
    for m in metrics:
        print(f"  {m.stage:<10} {m.wall_sec:>7.2f}s")
    for day in (1, 2):
        batch_id = 1 + day
        runner.ingest_bronze(spark, wh, synth_drop(spark, day), batch_id)
        t0 = time.perf_counter()
        runner.build_silver(spark, wh)
        t1 = time.perf_counter()
        runner.build_gold_incremental(spark, wh, batch_id)
        t2 = time.perf_counter()
        print(f"drop {day}: {DROP_TRIPS} trips  silver {t1 - t0:.2f}s  gold_incr {t2 - t1:.2f}s")


if __name__ == "__main__":
    main()
