"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy/Arrow: the engine under test only
ever sees the files these functions write. The same seed gives
byte-identical files (``test_perfbench.py`` checks it).

* trips: a CSV history plus daily CSV drops, each drop on its own
  calendar day and introducing a few new stations, in the raw FordGoBike
  column layout that ``sources.csv_source.read_trips_csv`` reads;
* locations: the geocoded lookup for every station, as JSON lines;
* the tables the analyst queries read (``region`` .. ``embeddings``), as
  a seeded row sample of the reference tables in ``ref/`` (a fixed
  sample of the repo's sf0.1 test data, built by ``make_ref.py``);
* document waves drawn from the reference documents, with stated
  exact-duplicate, near-duplicate and fresh shares, as JSON lines, plus
  the corpus as ``documents.parquet`` for the DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TRIP_COLUMNS = (
    "duration_sec", "start_time", "end_time",
    "start_station_id", "start_station_name",
    "start_station_latitude", "start_station_longitude",
    "end_station_id", "end_station_name",
    "end_station_latitude", "end_station_longitude",
    "bike_id", "user_type", "member_birth_year", "member_gender",
    "bike_share_for_all_trip",
)

STREETS = (
    "Market St", "Mission St", "Howard St", "Folsom St", "Valencia St",
    "Broadway", "Telegraph Ave", "Shattuck Ave", "College Ave", "Grand Ave",
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): changing how much one
    stream draws never shifts another."""
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


# ---------------------------------------------------------------------------
# Trips and stations
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Stations:
    ids: list[str]
    names: list[str]
    lat: np.ndarray
    lon: np.ndarray


def make_stations(seed: int, n: int) -> Stations:
    """``n`` stations on a jittered grid: coordinates are unique (the
    geocode lookup is keyed on them) and rounded like the raw files."""
    rng = _rng(seed, "stations")
    i = np.arange(n)
    lat = np.round(37.30 + 0.004 * (i // 40) + rng.uniform(0, 0.003, n), 6)
    lon = np.round(-122.50 + 0.004 * (i % 40) + rng.uniform(0, 0.003, n), 6)
    names = [f"{STREETS[k % len(STREETS)]} at {k + 1}th St" for k in range(n)]
    return Stations([f"{k + 1}.0" for k in range(n)], names, lat, lon)


def _fmt_ts(day: dt.date, secs: np.ndarray, frac: np.ndarray) -> np.ndarray:
    base = np.datetime64(day.isoformat()) + secs.astype("timedelta64[s]")
    s = np.char.replace(np.datetime_as_string(base, unit="s"), "T", " ")
    return np.char.add(np.char.add(s, "."), np.char.zfill(frac.astype(str), 4))


def write_trip_csv(
    path: str, seed: int, stream: str, day: dt.date, n: int,
    stations: Stations, n_active: int,
) -> None:
    """``n`` trips starting on ``day`` between the first ``n_active``
    stations, written in the raw CSV layout (4-digit subseconds, empty
    cells for missing rider attributes)."""
    rng = _rng(seed, stream)
    start = rng.integers(0, 86400, n)
    dur = rng.integers(61, 5400, n)
    s = rng.integers(0, n_active, n)
    e = rng.integers(0, n_active, n)
    ids = np.array(stations.ids, dtype=object)
    names = np.array(stations.names, dtype=object)
    birth = rng.integers(1945, 2002, n).astype(object)
    birth[rng.random(n) < 0.08] = ""
    gender = rng.choice(np.array(["Male", "Female", "Other", ""], dtype=object), n, p=[0.6, 0.3, 0.04, 0.06])
    cols = {
        "duration_sec": dur,
        "start_time": _fmt_ts(day, start, rng.integers(0, 10000, n)),
        "end_time": _fmt_ts(day, start + dur, rng.integers(0, 10000, n)),
        "start_station_id": ids[s],
        "start_station_name": names[s],
        "start_station_latitude": stations.lat[s],
        "start_station_longitude": stations.lon[s],
        "end_station_id": ids[e],
        "end_station_name": names[e],
        "end_station_latitude": stations.lat[e],
        "end_station_longitude": stations.lon[e],
        "bike_id": rng.integers(10, 6000, n),
        "user_type": np.where(rng.random(n) < 0.8, "Subscriber", "Customer"),
        "member_birth_year": birth,
        "member_gender": gender,
        "bike_share_for_all_trip": np.where(rng.random(n) < 0.1, "Yes", "No"),
    }
    rows = zip(*(cols[c].tolist() for c in TRIP_COLUMNS))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(",".join(TRIP_COLUMNS) + "\n")
        f.writelines(",".join(map(str, r)) + "\n" for r in rows)


def trip_file_name(day: dt.date) -> str:
    # read_trips_csv takes ``period`` from the name's prefix before '-'
    return f"{day:%Y%m}-{day:%d}-fordgobike-tripdata.csv"


def write_locations(path: str, stations: Stations, upto: int) -> None:
    """Geocoded lookup rows (LOCATIONS_GEO layout) for the first
    ``upto`` stations; every ninth city is missing, as in the raw
    geocoder output the silver layer defaults."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for k in range(upto):
            city = None if k % 9 == 0 else f"City{k % 12}"
            f.write(json.dumps({
                "location_id": f"place_{k}",
                "latitude": float(stations.lat[k]),
                "longitude": float(stations.lon[k]),
                "highway": None,
                "road": STREETS[k % len(STREETS)],
                "neighbourhood": f"Hood{k % 30}",
                "suburb": None,
                "city": city,
                "state": "California",
                "postcode": f"94{k % 1000:03d}",
                "country": "United States",
                "display_name": f"{stations.names[k]}, {city or 'Emeryville'}, California",
            }, sort_keys=True) + "\n")


# ---------------------------------------------------------------------------
# Analyst tables: seeded row samples of the reference tables in ref/
# ---------------------------------------------------------------------------

REF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ref")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def read_ref(name: str) -> pa.Table:
    return pq.read_table(os.path.join(REF_DIR, f"{name}.parquet"))


def keep_keys(table: pa.Table, key: str, share: float, rng: np.random.Generator) -> np.ndarray:
    """A ``share`` of the distinct values of ``key``, chosen by ``rng``."""
    ids = np.unique(table[key].to_numpy())
    return ids[np.sort(rng.choice(len(ids), int(round(len(ids) * share)), replace=False))]


def rows_with(table: pa.Table, key: str, values) -> pa.Table:
    """The rows of ``table`` whose ``key`` is one of ``values``."""
    return table.filter(pc.is_in(table[key], value_set=pa.array(np.asarray(values))))


def documents_table(docs: list[tuple]) -> pa.Table:
    """``documents`` rows for (doc_id, source, text, lang) tuples."""
    return pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[2] for d in docs], pa.string()),
        "lang": pa.array([d[3] for d in docs], pa.string()),
        "source": pa.array([d[1] for d in docs], pa.string()),
        "n_chars": pa.array([len(d[2]) for d in docs], pa.int64()),
    })


def sample_tables(tables: dict[str, pa.Table], share: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    """A ``share`` of the customers with all their orders and those
    orders' lines, and a ``share`` of the users with all their events;
    the other tables whole. Orders per customer, lines per order and
    events per user stay as in ``tables``."""
    out = dict(tables)
    keys = keep_keys(tables["customer"], "c_custkey", share, rng)
    out["customer"] = rows_with(tables["customer"], "c_custkey", keys)
    out["orders"] = rows_with(tables["orders"], "o_custkey", keys)
    out["lineitem"] = rows_with(tables["lineitem"], "l_orderkey", out["orders"]["o_orderkey"])
    ev = tables["events"]
    out["events"] = rows_with(ev, "user_id", keep_keys(ev, "user_id", share, rng))
    return out


def write_tables(out_dir: str, seed: int, share: float, documents: list | None = None) -> dict[str, int]:
    """Write the ten analyst tables as a seeded ``sample_tables`` of the
    reference. ``documents`` replaces the reference documents with the
    given (doc_id, source, text, lang) rows. Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = sample_tables({name: read_ref(name) for name in TABLES}, share, _rng(seed, "tables"))
    if documents is not None:
        tables["documents"] = documents_table(documents)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


# ---------------------------------------------------------------------------
# Document waves
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Wave:
    docs: list[tuple[int, str, str, str]]  # (doc_id, source, text, lang)
    n_exact: int
    n_near: int
    n_fresh: int


def make_waves(
    seed: int, n_waves: int, per_wave: int, exact_share: float, near_share: float
) -> list[Wave]:
    """Document waves built from the reference documents: each wave
    takes its fresh share from reference documents not used before (in a
    seeded order), copies ``exact_share`` of its docs verbatim from
    earlier docs (earlier waves or the same wave) and ``near_share`` with
    one or two words replaced by words of the reference vocabulary. Doc
    ids are unique across waves; order inside a wave is shuffled so
    duplicates do not sit next to their originals."""
    rng = _rng(seed, "waves")
    ref = read_ref("documents")
    ref_docs = list(zip(ref["source"].to_pylist(), ref["text"].to_pylist(), ref["lang"].to_pylist()))
    vocab = sorted({w for _, text, _ in ref_docs for w in text.split(" ")})
    unused = iter(rng.permutation(len(ref_docs)).tolist())
    seen: list[tuple[str, str, str]] = []
    waves, next_id = [], 0
    for _ in range(n_waves):
        n_exact = int(round(per_wave * exact_share))
        n_near = int(round(per_wave * near_share))
        n_fresh = per_wave - n_exact - n_near
        fresh = [ref_docs[next(unused)] for _ in range(n_fresh)]
        pool = seen + fresh
        exact = [pool[k] for k in rng.integers(0, len(pool), n_exact)]
        near = []
        for k in rng.integers(0, len(pool), n_near):
            source, text, lang = pool[k]
            words = text.split(" ")
            for j in rng.integers(0, len(words), int(rng.integers(1, 3))):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
            near.append((source, " ".join(words), lang))
        batch = fresh + exact + near
        order = rng.permutation(len(batch))
        docs = [(next_id + j, *batch[k]) for j, k in enumerate(order)]
        next_id += len(docs)
        seen.extend(fresh)
        waves.append(Wave(docs, n_exact, n_near, n_fresh))
    return waves


def write_wave(path: str, wave: Wave) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for doc_id, source, text, _lang in wave.docs:
            f.write(json.dumps({"doc_id": doc_id, "source": source, "text": text}) + "\n")
