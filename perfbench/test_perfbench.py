"""Tests of the benchmark's own code: generator determinism, the names
it prints, and that each output check fails on a corrupted result.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
DAY = dt.date(2019, 3, 1)


def _write_all(out: str, seed: int) -> None:
    stations = gen.make_stations(seed, 30)
    gen.write_trip_csv(os.path.join(out, "trips", gen.trip_file_name(DAY)), seed, "t", DAY, 400, stations, 20)
    gen.write_locations(os.path.join(out, "geo", "locations.jsonl"), stations, 30)
    gen.write_tables(os.path.join(out, "sf"), seed, 0.05)
    for i, wave in enumerate(gen.make_waves(seed, 3, 40, 0.2, 0.15)):
        gen.write_wave(os.path.join(out, "waves", f"{i}.jsonl"), wave)


def _tree(root: str) -> dict[str, bytes]:
    files = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as f:
                files[os.path.relpath(path, root)] = f.read()
    return files


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for sub, seed in (("a", 5), ("b", 5), ("c", 6)):
        _write_all(str(tmp_path / sub), seed)
    a, b, c = (_tree(str(tmp_path / s)) for s in "abc")
    assert len(a) == 15 and a == b
    assert a.keys() == c.keys() and a != c


def test_waves_have_the_stated_shares():
    waves = gen.make_waves(3, 4, 100, 0.2, 0.15)
    ids = [d[0] for w in waves for d in w.docs]
    assert len(ids) == len(set(ids)) == 400
    seen: set[str] = set()
    for w in waves:
        assert (w.n_exact, w.n_near, w.n_fresh) == (20, 15, 65)
        texts = [d[2] for d in w.docs]
        # every exact copy repeats a text seen before it or in its wave
        repeats = len(texts) - len(set(texts) - seen)
        assert repeats >= w.n_exact
        seen |= set(texts)


def test_table_sample_keeps_whole_customers_and_users(tmp_path):
    import pyarrow.parquet as pq

    counts = gen.write_tables(str(tmp_path), 7, 0.5)
    read = lambda name: pq.read_table(str(tmp_path / f"{name}.parquet")).to_pandas()  # noqa: E731
    ref = lambda name: gen.read_ref(name).to_pandas()  # noqa: E731
    cust, orders, lines, events = read("customer"), read("orders"), read("lineitem"), read("events")
    assert counts["customer"] == round(len(ref("customer")) * 0.5)
    # every order of a kept customer, every line of a kept order, every
    # event of a kept user: per-key counts are those of the reference
    ref_orders = ref("orders")
    assert len(orders) == ref_orders.o_custkey.isin(cust.c_custkey).sum()
    assert set(orders.o_custkey) <= set(cust.c_custkey)
    assert len(lines) == ref("lineitem").l_orderkey.isin(orders.o_orderkey).sum()
    ref_events = ref("events")
    assert len(events) == ref_events.user_id.isin(events.user_id).sum()
    assert events.user_id.nunique() == round(ref_events.user_id.nunique() * 0.5)
    for name in ("region", "nation", "supplier", "part", "documents"):
        assert counts[name] == gen.read_ref(name).num_rows


def test_printed_names_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == spans.per_layer_names()
    assert len(layers) <= 128
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    for name in [*e2e, *layers, *workloads.WORKLOADS]:
        assert NAME.fullmatch(name), name


# ---------------------------------------------------------------------------
# output checks against corrupted results (these start a Spark session)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    from fordgobike_data_pipeline_spark.session import get_spark

    session = get_spark(
        app_name="perfbench-tests", shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def _ctx(spark, work: str) -> workloads.Ctx:
    return workloads.Ctx(spark, spans.Tracer(False, 1), None, None, work, 1, 0)


def test_etl_check_fails_when_a_fact_row_is_dropped(spark, tmp_path):
    from fordgobike_data_pipeline_spark.io import publish_overwrite
    from fordgobike_data_pipeline_spark.plans import runner

    work = str(tmp_path)
    stations = gen.make_stations(1, 40)
    for k, (day, n_active) in enumerate(((DAY, 30), (DAY + dt.timedelta(days=1), 40))):
        gen.write_trip_csv(os.path.join(work, f"csv{k}", gen.trip_file_name(day)), 1, f"d{k}", day, 300, stations, n_active)
        gen.write_locations(os.path.join(work, f"geo{k}", "locations.jsonl"), stations, n_active)
    wh = runner.Warehouse(os.path.join(work, "wh"))
    for k in range(2):
        workloads._etl_batch(_ctx(spark, work), wh, os.path.join(work, f"csv{k}"), os.path.join(work, f"geo{k}"), k + 1)
    full = runner.Warehouse(os.path.join(work, "full"))
    os.makedirs(full.root)
    os.symlink(os.path.join(wh.root, "silver"), os.path.join(full.root, "silver"))
    runner.build_gold(spark, full)
    assert all(ok for ok, _ in workloads.etl_checks(spark, wh, full, 600))

    fact = wh.read(spark, "silver", "fact_trips")
    rows = fact.orderBy("trip_id").collect()[1:]
    publish_overwrite(spark.createDataFrame(rows, fact.schema), wh.path("silver", "fact_trips"), ["p_year"])
    failed = [what for ok, what in workloads.etl_checks(spark, wh, full, 600) if not ok]
    assert failed and failed[0].startswith("fact rows 599")


def test_oracle_check_fails_when_a_cell_changes(spark, tmp_path):
    from fordgobike_data_pipeline_spark import harness

    sf_dir = str(tmp_path / "sf")
    gen.write_tables(sf_dir, 2, 0.05)
    key = "q_tpch_q5"
    compare = workloads.oracle_compare(str(tmp_path))
    df = harness.all_queries()[key](spark, sf_dir)
    sql = harness.all_oracle_sql()[key]
    assert compare(df, sql, sf_dir)[0]

    rows = [r.asDict() for r in df.collect()]
    col = next(c for c, v in rows[0].items() if isinstance(v, float))
    rows[0][col] += 1.0
    assert not compare(spark.createDataFrame(rows, df.schema), sql, sf_dir)[0]


def test_corpus_checks_fail_on_a_lost_doc_and_a_wrong_count(spark, tmp_path):
    from pyspark.sql.types import StructType

    from fordgobike_data_pipeline_spark.plans import corpus
    from fordgobike_data_pipeline_spark.sources.jsonl import read_jsonl
    from fordgobike_data_pipeline_spark.streaming import incremental

    work = str(tmp_path)
    waves = gen.make_waves(4, 2, 60, 0.2, 0.15)
    sink = {n: os.path.join(work, n) for n in ("landing", "accepted", "index", "ckpt", "metrics")}
    for i, wave in enumerate(waves):
        gen.write_wave(os.path.join(sink["landing"], f"{i}.jsonl"), wave)
        incremental.stream_curate_documents(
            spark, sink["landing"], sink["accepted"], sink["index"], sink["ckpt"],
            metrics_path=sink["metrics"],
        )
    metrics = {r.batch_id: r for r in spark.read.parquet(sink["metrics"]).collect()}
    accepted = spark.read.parquet(sink["accepted"]).select("batch_id", "doc_id", "text").collect()
    assert all(ok for ok, _ in workloads.stream_checks(metrics, accepted, waves))
    assert not all(ok for ok, _ in workloads.stream_checks(metrics, accepted[1:], waves))

    docs = [d for w in waves for d in w.docs]
    sf_dir = os.path.join(work, "sf")
    gen.write_tables(sf_dir, 4, 0.0, docs)
    schema = StructType.fromDDL("doc_id BIGINT, source STRING, text STRING")
    _, report = corpus.clean_corpus(
        read_jsonl(spark, sink["landing"], schema), min_quality=0.4,
        keep_langs=("en", "es", "fr", "de", "und"), hash_fn="md5-parity",
    )
    rows = report.collect()
    assert workloads.report_check(spark, rows, sf_dir, work)[0]
    wrong = [(r.stage, r.n_docs + (r.stage == "near_dedup")) for r in rows]
    assert not workloads.report_check(spark, wrong, sf_dir, work)[0]
