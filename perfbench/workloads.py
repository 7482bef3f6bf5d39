"""The benchmark workloads and their output checks.

Each workload is one client in a closed loop on one session: the next
operation starts when the previous one returns. A run measures at least
``MIN_*`` rounds and keeps going while fewer than ``--seconds`` have
passed. Setup (session start, input generation, warm-up) is timed apart.
Every timed call into a layer goes through ``Tracer.span``. Output checks
are untimed and count as attempted operations; a failed check, or a
check or operation that raises, counts in ``failed``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import gen
from spans import CpuClock, PeakRss, StealClock, Tracer

# --- daily_etl -------------------------------------------------------------
HISTORY_DAYS = 20
HISTORY_TRIPS_PER_DAY = 3_000          # 60k-trip history
DROP_TRIPS = 3_000                     # one daily CSV drop: 1/20 of the history
BASE_STATIONS = 120
NEW_STATIONS_PER_DROP = 3
MIN_DROPS = 2
FULL_REPEATS = 3                       # full build_gold runs after the drops
MAX_DROPS = 20
HISTORY_START = dt.date(2019, 3, 1)
GOLD_MARTS = (
    "dm_daily_trip_summary", "dm_station_popularity", "dm_popular_routes",
    "dm_user_behavior_summary",
)

# --- analyst_corpus --------------------------------------------------------
ANALYST_SHARE = 0.75                   # of ref/: ~90k lineitems, 22k orders, 15k events
ANALYST_KEYS = (
    "q_agg_daily_summary", "q_join_role_playing", "q_sessionize", "q_scd2",
    "q_tpch_q3", "q_tpch_q5", "q_tpch_q9", "q_tpch_q18", "q_tpch_q21",
)
MIN_PASSES = 2
QUERIES_PER_WAVE = 4                   # a document wave lands after every fourth query
WAVE_DOCS = 500
EXACT_SHARE = 0.20
NEAR_SHARE = 0.15
MAX_WAVES = 12
CORPUS_WAVES = 2                       # clean_corpus input (traced run): the first waves

GEN_REPEATS = 3
ORACLE_MEMORY = "2GB"                  # DuckDB runs in this process


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    rss: PeakRss
    cpu: CpuClock
    work: str
    seed: int
    seconds: float


@dataclass
class Outcome:
    """What a workload reports: counts, set-up cost and the measured ops.

    Costs are CPU seconds of the driver, its JVM and the Python workers
    (``CpuClock``); on a shared host they do not absorb steal time the
    way wall time does. Latencies (``op_wall_s``) are wall seconds less
    the host's steal over the same window (``StealClock``)."""

    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    peak_rss_mb: float = 0.0
    op_s: list = field(default_factory=list)
    op_wall_s: list = field(default_factory=list)
    rates: list = field(default_factory=list)
    full_pass_s: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: output check failed: {what}", file=sys.stderr)

    @contextmanager
    def checking(self, what: str):
        """Run checks; an exception inside counts as one failed check."""
        try:
            yield
        except Exception:  # noqa: BLE001 — a broken output is a failed check
            traceback.print_exc()
            self.check(False, f"{what} raised")

    def run(self, fn, what: str) -> bool:
        """Run one operation; an exception counts as failed."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:  # noqa: BLE001 — keep the loop going, report the failure
            self.failed += 1
            print(f"perfbench: operation failed: {what}", file=sys.stderr)
            traceback.print_exc()
            return False

    def metrics(self) -> dict[str, float]:
        return {
            "op_geomean_s": statistics.geometric_mean(self.op_wall_s),
            "op_geomean_cpu_s": statistics.geometric_mean(self.op_s),
            "items_per_cpu_s": statistics.median(self.rates),
            "full_pass_cpu_s": statistics.median(self.full_pass_s),
        }


class Meter:
    """Measures one stretch of work: ``with Meter(ctx.cpu) as m: ...``
    leaves its CPU seconds in ``m.cpu_s`` and its wall seconds, less the
    host's steal over the stretch, in ``m.wall_s``."""

    def __init__(self, cpu: CpuClock):
        self._clock = cpu
        self.cpu_s = self.wall_s = 0.0

    def __enter__(self) -> "Meter":
        self._s0 = StealClock.seconds()
        self._t0 = time.perf_counter()
        self._c0 = self._clock.seconds()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s = self._clock.seconds() - self._c0
        self.wall_s = time.perf_counter() - self._t0 - (StealClock.seconds() - self._s0)


def median_cpu_s(cpu: CpuClock, fn, repeats: int = GEN_REPEATS) -> float:
    costs = []
    for _ in range(repeats):
        with Meter(cpu) as m:
            fn()
        costs.append(m.cpu_s)
    return statistics.median(costs)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def keep_going(t_start: float, seconds: float, done: int, minimum: int, maximum: int) -> bool:
    return done < minimum or (done < maximum and time.perf_counter() - t_start < seconds)


def rows_digest(df) -> str:
    """Order-independent content hash of a DataFrame's rows."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in df.select(*cols).collect())
    return hashlib.sha256("\n".join([repr(cols), *rows]).encode()).hexdigest()


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, not counting Spark's checksum files."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.endswith(".crc"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def oracle_compare(work: str):
    """The repo's comparator (tests/oracle_diff.compare), with DuckDB's
    memory capped and its spill files kept inside the work directory."""
    from tests import oracle_diff

    base = oracle_diff.duckdb_con
    if getattr(base, "capped", False):
        return oracle_diff.compare
    spill = os.path.join(work, "duckdb")

    def capped(sf_dir: str):
        con = base(sf_dir)
        con.execute(f"SET memory_limit = '{ORACLE_MEMORY}'")
        con.execute(f"SET temp_directory = '{spill}'")
        return con

    capped.capped = True
    oracle_diff.duckdb_con = capped
    return oracle_diff.compare


# ---------------------------------------------------------------------------
# daily_etl
# ---------------------------------------------------------------------------


def _etl_history(work: str, seed: int, stations: gen.Stations) -> None:
    hist = fresh_dir(os.path.join(work, "history"))
    for d in range(HISTORY_DAYS):
        day = HISTORY_START + dt.timedelta(days=d)
        gen.write_trip_csv(
            os.path.join(hist, gen.trip_file_name(day)), seed, f"history-{d}", day,
            HISTORY_TRIPS_PER_DAY, stations, BASE_STATIONS,
        )
    gen.write_locations(os.path.join(work, "geo", "0", "locations.jsonl"), stations, BASE_STATIONS)


def _etl_drop(work: str, seed: int, stations: gen.Stations, k: int) -> tuple[str, str]:
    """CSV drop ``k`` (1-based) on its own day after the history, with
    ``NEW_STATIONS_PER_DROP`` stations first seen in it."""
    day = HISTORY_START + dt.timedelta(days=HISTORY_DAYS + k - 1)
    active = BASE_STATIONS + k * NEW_STATIONS_PER_DROP
    drop = fresh_dir(os.path.join(work, "drops", str(k)))
    gen.write_trip_csv(
        os.path.join(drop, gen.trip_file_name(day)), seed, f"drop-{k}", day,
        DROP_TRIPS, stations, active,
    )
    geo = os.path.join(work, "geo", str(k), "locations.jsonl")
    gen.write_locations(geo, stations, active)
    return drop, os.path.dirname(geo)


def _etl_batch(ctx: Ctx, wh, csv_dir: str, geo_dir: str, batch_id: int) -> None:
    """One batch through the medallion: the history (batch 1) ends in a
    full ``build_gold``, every daily drop in ``build_gold_incremental``."""
    from fordgobike_data_pipeline_spark.plans import runner
    from fordgobike_data_pipeline_spark.schemas import LOCATIONS_GEO
    from fordgobike_data_pipeline_spark.sources.csv_source import read_trips_csv
    from fordgobike_data_pipeline_spark.sources.jsonl import read_jsonl

    spark, span = ctx.spark, ctx.tracer.span
    with span("sources"):
        trips = read_trips_csv(spark, csv_dir)
        geo = read_jsonl(spark, geo_dir, LOCATIONS_GEO)
    with span("plans.bronze"):
        runner.ingest_bronze(spark, wh, trips, batch_id)
    with span("plans.locations"):
        runner.load_locations(spark, wh, geo)
    with span("plans.silver"):
        runner.build_silver(spark, wh)
    if batch_id == 1:
        with span("plans.gold"):
            runner.build_gold(spark, wh)
    else:
        with span("plans.gold_incr"):
            runner.build_gold_incremental(spark, wh, batch_id)


def etl_checks(spark, wh, full, ingested: int) -> list[tuple[bool, str]]:
    """Fact rows = trips ingested = sum(total_trips) of the daily mart;
    each incrementally maintained mart equals the full rebuild in ``full``."""
    from pyspark.sql import functions as F

    n_fact = wh.read(spark, "silver", "fact_trips").count()
    total = wh.read(spark, "gold", "dm_daily_trip_summary").agg(F.sum("total_trips")).first()[0]
    checks = [
        (n_fact == ingested, f"fact rows {n_fact} != trips ingested {ingested}"),
        (total == n_fact, f"sum(total_trips) {total} != fact rows {n_fact}"),
    ]
    for mart in GOLD_MARTS:
        same = rows_digest(wh.read(spark, "gold", mart)) == rows_digest(full.read(spark, "gold", mart))
        checks.append((same, f"incrementally maintained {mart} differs from a full build_gold"))
    return checks


def daily_etl(ctx: Ctx, out: Outcome) -> None:
    from fordgobike_data_pipeline_spark.plans import runner

    spark, work = ctx.spark, ctx.work
    stations = gen.make_stations(ctx.seed, BASE_STATIONS + MAX_DROPS * NEW_STATIONS_PER_DROP)
    out.setup_s += median_cpu_s(ctx.cpu, lambda: _etl_history(work, ctx.seed, stations))

    # the backfill: the history through every layer, ending in a full
    # build_gold; measured as a bulk-load rate (it also warms up the
    # daily batches)
    wh = runner.Warehouse(fresh_dir(os.path.join(work, "wh")))
    history = (os.path.join(work, "history"), os.path.join(work, "geo", "0"))
    with Meter(ctx.cpu) as m:
        ok = out.run(lambda: _etl_batch(ctx, wh, *history, 1), "backfill")
    if not ok:
        return
    out.rates.append(HISTORY_DAYS * HISTORY_TRIPS_PER_DAY / m.cpu_s)
    ctx.tracer.reset()

    ctx.rss.reset()
    t_start = time.perf_counter()
    k = 0
    while keep_going(t_start, ctx.seconds, k, MIN_DROPS, MAX_DROPS):
        k += 1
        drop, geo = _etl_drop(work, ctx.seed, stations, k)
        with Meter(ctx.cpu) as m:
            ok = out.run(lambda: _etl_batch(ctx, wh, drop, geo, k + 1), f"drop {k}")
        if not ok:
            return
        out.op_s.append(m.cpu_s)
        out.op_wall_s.append(m.wall_s)

    # the full rebuild the incremental marts are checked against, timed
    # FULL_REPEATS times: incremental maintenance vs a full build_gold
    # over the same silver
    for r in range(FULL_REPEATS):
        full = runner.Warehouse(fresh_dir(os.path.join(work, "wh_full")))
        os.symlink(os.path.abspath(os.path.join(wh.root, "silver")), os.path.join(full.root, "silver"))

        def rebuild() -> None:
            with ctx.tracer.span("plans.gold"):
                runner.build_gold(spark, full)

        with Meter(ctx.cpu) as m:
            ok = out.run(rebuild, f"full build_gold {r}")
        if not ok:
            return
        out.full_pass_s.append(m.cpu_s)
    out.peak_rss_mb = ctx.rss.read_mb()

    files = 0
    for layer in ("bronze", "silver", "gold"):
        size, n = dir_usage(os.path.join(wh.root, layer))
        ctx.tracer.note(f"io.{layer}_bytes", size)
        files += n
    ctx.tracer.note("io.files", files)
    ingested = HISTORY_DAYS * HISTORY_TRIPS_PER_DAY + k * DROP_TRIPS
    with out.checking("daily_etl checks"):
        for ok, what in etl_checks(spark, wh, full, ingested):
            out.check(ok, what)


# ---------------------------------------------------------------------------
# analyst_corpus
# ---------------------------------------------------------------------------


def _fingerprint(text: str) -> str:
    # operators.dedup.fingerprint_index's normalization
    return hashlib.md5(re.sub(r"\s+", " ", text).strip().lower().encode()).hexdigest()


def stream_checks(metrics: dict, accepted: list, waves: list) -> list[tuple[bool, str]]:
    """Per landed wave (micro-batch ``b`` = ``waves[b]``): docs in =
    accepted + rejected, accepted docs come from the wave, and every
    exact copy is rejected; overall, no two accepted docs share a
    fingerprint. ``metrics`` maps batch id to the stream's metrics row,
    ``accepted`` holds the accepted rows (batch_id, doc_id, text)."""
    checks = [(sorted(metrics) == list(range(len(waves))),
               f"micro-batches {sorted(metrics)} for {len(waves)} waves")]
    for b, wave in enumerate(waves):
        ids = {d[0] for d in wave.docs}
        acc = [r for r in accepted if r.batch_id == b]
        m = metrics.get(b)
        ok = (
            m is not None and m.n_in == len(ids) and m.n_accepted == len(acc)
            and all(r.doc_id in ids for r in acc)
            and m.n_in - m.n_accepted >= wave.n_exact
        )
        checks.append((ok, f"wave {b}: {len(ids)} docs in, metrics {m}, {len(acc)} accepted rows"))
    prints = [_fingerprint(r.text) for r in accepted]
    checks.append((len(prints) == len(set(prints)), "two accepted documents share a fingerprint"))
    return checks


def report_check(spark, report: list, sf_dir: str, work: str) -> tuple[bool, str]:
    """The clean_corpus report against the q_clean_corpus oracle SQL run
    by DuckDB over the same documents."""
    from fordgobike_data_pipeline_spark import harness

    got = spark.createDataFrame(report, "stage STRING, n_docs BIGINT")
    ok, msg = oracle_compare(work)(got, harness.all_oracle_sql()["q_clean_corpus"], sf_dir)
    return ok, f"clean_corpus report: {msg}"


def clean_corpus_step(ctx: Ctx, out: Outcome, docs_dir: str, corpus_sf: str) -> None:
    """The curation engineer's batch build over the first waves, cold
    like a nightly rebuild, and its check against the DuckDB oracle.

    One cold run spreads too widely across seeds (30% over five) to gate
    on, and repeating it does not fit a run, so it runs in the traced
    run only, where ``plans.corpus*`` report its time per layer."""
    from pyspark.sql.types import StructType

    from fordgobike_data_pipeline_spark.plans import corpus
    from fordgobike_data_pipeline_spark.sources.jsonl import read_jsonl

    spark, span = ctx.spark, ctx.tracer.span
    schema = StructType.fromDDL("doc_id BIGINT, source STRING, text STRING")
    report: list = []

    def clean() -> None:
        with span("sources"):
            docs = read_jsonl(spark, docs_dir, schema)
        with span("plans.corpus"):
            _, rep = corpus.clean_corpus(
                docs, min_quality=0.4, keep_langs=("en", "es", "fr", "de", "und"),
                hash_fn="md5-parity",
            )
        with span("plans.corpus.exec"):
            report[:] = rep.collect()

    if out.run(clean, "clean_corpus"):
        with out.checking("clean_corpus report"):
            out.check(*report_check(spark, report, corpus_sf, ctx.work))


def analyst_corpus(ctx: Ctx, out: Outcome) -> None:
    import numpy as np

    from fordgobike_data_pipeline_spark import harness
    from fordgobike_data_pipeline_spark.streaming import incremental

    spark, span, work = ctx.spark, ctx.tracer.span, ctx.work
    sf_dir, corpus_sf = os.path.join(work, "sf"), os.path.join(work, "corpus_sf")
    waves: list = []

    def make_inputs() -> None:
        gen.write_tables(fresh_dir(sf_dir), ctx.seed, ANALYST_SHARE)
        waves[:] = gen.make_waves(ctx.seed, MAX_WAVES, WAVE_DOCS, EXACT_SHARE, NEAR_SHARE)
        docs = fresh_dir(os.path.join(work, "corpus"))
        for w in range(CORPUS_WAVES):
            gen.write_wave(os.path.join(docs, f"wave-{w:03d}.jsonl"), waves[w])
        corpus_docs = [d for w in waves[:CORPUS_WAVES] for d in w.docs]
        gen.write_tables(fresh_dir(corpus_sf), ctx.seed, 0.0, corpus_docs)

    out.setup_s += median_cpu_s(ctx.cpu, make_inputs)
    queries, oracle = harness.all_queries(), harness.all_oracle_sql()
    compare = oracle_compare(work)

    root = fresh_dir(os.path.join(work, "stream"))
    sinks = {n: os.path.join(root, n) for n in ("landing", "accepted", "index", "ckpt", "metrics")}

    def ingest(w: int) -> None:
        gen.write_wave(os.path.join(sinks["landing"], f"wave-{w:03d}.jsonl"), waves[w])
        with span("streaming"):
            incremental.stream_curate_documents(
                spark, sinks["landing"], sinks["accepted"], sinks["index"], sinks["ckpt"],
                metrics_path=sinks["metrics"],
            )

    # warm-up, unscored: every key once against its DuckDB oracle (the
    # output check)
    with Meter(ctx.cpu) as m:
        for key in ANALYST_KEYS:
            with out.checking(key):
                ok, msg = compare(queries[key](spark, sf_dir), oracle[key], sf_dir)
                out.check(ok, f"{key}: {msg}")
    out.setup_s += m.cpu_s

    def query(key: str) -> None:
        with span("harness"):
            df = queries[key](spark, sf_dir)
        with span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        ctx.tracer.phases(df)
        with span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()

    def wave(w: int) -> bool:
        with Meter(ctx.cpu) as m:
            ok = out.run(lambda: ingest(w), f"wave {w}")
        if not ok:
            return False
        out.rates.append(len(waves[w].docs) / m.cpu_s)
        progress = ctx.tracer.take_progress()
        ctx.tracer.note("streaming.micro_batches", len(progress))
        for p in progress:
            ctx.tracer.note("streaming.rows_in", p["rows_in"])
            ctx.tracer.note("streaming.add_batch_ms", p["add_batch_ms"])
        return True

    # closed loop: each pass runs the analyst's keys in a seeded order,
    # with a curation wave landing after every fourth query (the first,
    # cold wave takes the stream's no-index path; the medians absorb it)
    rng = np.random.default_rng([ctx.seed, 7])
    max_passes = MAX_WAVES // (len(ANALYST_KEYS) // QUERIES_PER_WAVE)
    ctx.rss.reset()
    t_start = time.perf_counter()
    landed = 0
    for done in range(max_passes):
        if not keep_going(t_start, ctx.seconds, done, MIN_PASSES, max_passes):
            break
        n0 = len(out.op_s)
        for n, i in enumerate(rng.permutation(len(ANALYST_KEYS)), 1):
            key = ANALYST_KEYS[i]
            with Meter(ctx.cpu) as m:
                ok = out.run(lambda: query(key), key)
            if ok:
                out.op_s.append(m.cpu_s)
                out.op_wall_s.append(m.wall_s)
            if n % QUERIES_PER_WAVE == 0:
                if not wave(landed):
                    return
                landed += 1
        if len(out.op_s) - n0 == len(ANALYST_KEYS):  # a pass with a failed query is not scored
            out.full_pass_s.append(sum(out.op_s[n0:]))

    out.peak_rss_mb = ctx.rss.read_mb()

    with out.checking("stream checks"):
        metrics = {r.batch_id: r for r in spark.read.parquet(sinks["metrics"]).collect()}
        accepted = spark.read.parquet(sinks["accepted"]).select("batch_id", "doc_id", "text").collect()
        for ok, what in stream_checks(metrics, accepted, waves[:landed]):
            out.check(ok, what)
        for b in range(landed):
            ctx.tracer.note("streaming.accept_ratio",
                            sum(r.batch_id == b for r in accepted) / len(waves[b].docs))
    if ctx.tracer.enabled:
        clean_corpus_step(ctx, out, os.path.join(work, "corpus"), corpus_sf)


WORKLOADS = {"daily_etl": daily_etl, "analyst_corpus": analyst_corpus}
