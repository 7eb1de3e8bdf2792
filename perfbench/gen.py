"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of ``seed``. The flights, the
dimensions and the catalog tables are drawn with NumPy / ``random``
and written with Arrow, which takes about a second and needs no JVM
warm-up inside the timed set-up. The OpenSky feed is generated by
Spark: per-row randomness is ``xxhash64(id, seed, salt)``, so it does
not depend on how Spark partitions the work. The shapes keep the edge
cases the flight fixtures exercise:

- flights carry airline codes missing from the airlines dimension
  (``XX``/``YY``) and an origin missing from the airports dimension
  (``ZZZ`` plus a few tail airports), so the left joins miss;
- tail numbers are null, blank, in the aircraft dimension, or absent;
  the aircraft dimension repeats every tenth registration;
- airlines include a null and a blank ICAO code (filtered by L2);
- airport traffic is skewed with a long tail, so the HAVING floors
  keep some groups and drop others;
- the Div columns are sparse, with blank and whitespace-only entries;
- distances sit on the Q7 bucket edges;
- departures from two airports run late, so Q8 always finds routes.

The OpenSky-shaped feed advances event time one minute per file, ends
in a far-future sentinel that closes every real window, and carries a
known number of late events that the no-grace windows must drop.
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_flight_analytics_spark.schemas import (
    AIRCRAFTS_SCHEMA,
    AIRLINES_SCHEMA,
    AIRPORTS_SCHEMA,
    FLIGHTS_RAW_SCHEMA,
)

YEARS = (2021, 2022, 2023)

# (IATA, ICAO, name, share of flights); XX/YY are absent from the dim
AIRLINES = [
    ("AA", "AAL", "American Airlines", 0.20),
    ("DL", "DAL", "Delta Air Lines", 0.18),
    ("UA", "UAL", "United Airlines", 0.15),
    ("WN", "SWA", "Southwest Airlines", 0.14),
    ("B6", "JBU", "JetBlue Airways", 0.09),
    ("AS", "ASA", "Alaska Airlines", 0.07),
    ("NK", None, "Spirit Airlines", 0.06),
    ("F9", "  ", "Frontier Airlines", 0.05),
    ("XX", None, None, 0.04),
    ("YY", None, None, 0.02),
]

# busiest first; traffic shares fall geometrically so that every main
# airport outranks every tail airport (the top-10 lookup is the mains)
MAIN_AIRPORTS = [
    ("ATL", 33.6367, -84.4281, "Hartsfield-Jackson"),
    ("ORD", 41.9786, -87.9048, "Chicago O'Hare"),
    ("DFW", 32.8968, -97.0380, "Dallas Fort Worth"),
    ("DEN", 39.8617, -104.6731, "Denver Intl"),
    ("LAX", 33.9425, -118.4081, "Los Angeles Intl"),
    ("JFK", 40.6413, -73.7781, "John F Kennedy"),
    ("SFO", 37.6213, -122.3790, "San Francisco Intl"),
    ("SEA", 47.4502, -122.3088, "Seattle-Tacoma"),
    ("MIA", 25.7959, -80.2870, "Miami Intl"),
    ("PHX", 33.4343, -112.0116, "Phoenix Sky Harbor"),
]
# flights out of these arrive late more often, so Q8's problematic
# routes (delay rate >= 1.2x the overall rate) exist for every seed
DELAY_PRONE = ("ORD", "JFK")
N_TAIL_AIRPORTS = 40
TAIL_MISSING_EVERY = 8  # every 8th tail airport is absent from the dim
MAIN_SHARE = 0.88

DISTANCE_EDGES = [249.0, 250.0, 251.0, 499.0, 500.0, 749.0, 1000.0,
                  1500.0, 2499.0, 2500.0, 2600.0]

_UUID = re.compile(r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")

FEED_T0 = 1_700_000_040  # minute-aligned epoch second
LATE_PER_FILE = 3


def _u(seed: int, salt: int, key: str = "id") -> Column:
    """Uniform [0, 1) double from (row key, seed, salt)."""
    h = F.xxhash64(F.col(key), F.lit(seed), F.lit(salt))
    return F.shiftrightunsigned(h, 11).cast("double") / float(1 << 53)


def _with_uniforms(df: DataFrame, seed: int, salts) -> DataFrame:
    """Adds one uniform column ``u<salt>`` per salt. Later expressions
    read these columns, so each hash is computed once per row even where
    a CASE chain tests the same draw many times."""
    return df.select("*", *[_u(seed, s).alias(f"u{s}") for s in salts])


def _pick(values: list, weights: list[float], u: Column) -> Column:
    """Weighted choice: the value whose cumulative-weight slot holds u."""
    total = float(sum(weights))
    acc, out = 0.0, None
    for v, w in zip(values[:-1], weights[:-1]):
        acc += w / total
        out = (F.when(u < acc, F.lit(v)) if out is None
               else out.when(u < acc, F.lit(v)))
    return out.otherwise(F.lit(values[-1]))


def tail_airports(seed: int) -> list[tuple[str, float, float, str]]:
    rng = random.Random(seed * 7919 + 1)
    out = []
    for j in range(N_TAIL_AIRPORTS):
        code = "T" + chr(ord("A") + j // 26) + chr(ord("A") + j % 26)
        out.append((code, round(rng.uniform(26.0, 48.0), 4),
                    round(rng.uniform(-122.0, -70.0), 4), f"Tail Field {code}"))
    return out


def airport_weights(seed: int) -> tuple[list[str], list[float]]:
    main = [a[0] for a in MAIN_AIRPORTS]
    mw = [0.8 ** j for j in range(len(main))]
    tail = [a[0] for a in tail_airports(seed)] + ["ZZZ"]
    tw = [0.85 ** j for j in range(len(tail))]
    ms, ts = sum(mw), sum(tw)
    return (main + tail,
            [MAIN_SHARE * w / ms for w in mw]
            + [(1 - MAIN_SHARE) * w / ts for w in tw])


def dims(seed: int, n_aircraft: int) -> dict[str, list[tuple]]:
    """Rows of the airlines, airports and aircrafts dimensions."""
    airlines = [(i, c, n) for i, c, n, _ in AIRLINES if n is not None]
    airports = list(MAIN_AIRPORTS) + [
        a for j, a in enumerate(tail_airports(seed))
        if j % TAIL_MISSING_EVERY != TAIL_MISSING_EVERY - 1
    ]
    aircrafts = []
    for i in range(n_aircraft):
        reg = f"N{10000 + i}"
        aircrafts.append((reg, f"a{i:05x}"))
        if i % 10 == 0:
            aircrafts.append((reg, f"b{i:05x}"))
    random.Random(seed).shuffle(aircrafts)
    return {"airlines": airlines, "airports": airports, "aircrafts": aircrafts}


DIM_SCHEMAS = {
    "airlines": AIRLINES_SCHEMA,
    "airports": AIRPORTS_SCHEMA,
    "aircrafts": AIRCRAFTS_SCHEMA,
}


def flights_table(seed: int, n: int, n_aircraft: int) -> pa.Table:
    """``n`` BTS-shaped rows in the raw CSV schema."""
    rng = np.random.default_rng([seed, 1])
    u = lambda: rng.random(n)  # noqa: E731
    codes, weights = airport_weights(seed)
    pick = lambda vals, w: np.asarray(vals, dtype=object)[  # noqa: E731
        rng.choice(len(vals), n, p=np.asarray(w) / sum(w))]
    year = np.asarray(YEARS)[np.arange(n) % len(YEARS)]
    date = (year - 1970).astype("datetime64[Y]").astype("datetime64[D]") \
        + rng.integers(0, 365, n).astype("timedelta64[D]")
    when = pd.DatetimeIndex(date)
    cancelled = (u() < 0.02).astype(np.int32)
    diverted = (u() < 0.10).astype(np.int32)
    fno = (100 + np.floor(u() ** 2 * 900)).astype(np.int32)
    r, reg = u(), (10000 + np.floor(u() * n_aircraft * 1.15)).astype(int)
    tail = np.where(r < 0.03, None, np.where(
        r < 0.05, "", np.char.add("N", reg.astype(str)).astype(object)))
    distance = np.where(u() < 0.6,
                        np.asarray(DISTANCE_EDGES)[rng.integers(
                            0, len(DISTANCE_EDGES), n)],
                        np.round(30 + u() * 2970, 1))
    origin, dest = pick(codes, weights), pick(codes, weights)
    # few distinct HHMM values per flight number: modes with ties
    crs_arr = np.choose(rng.integers(0, 3, n),
                        [900 + 5 * (fno % 3), np.full(n, 1310),
                         np.full(n, 1845)]).astype(np.int32)
    crs_dep = np.choose(rng.integers(0, 2, n),
                        [800 + 10 * (fno % 2), np.full(n, 1215)]).astype(np.int32)
    crs_elapsed = np.round(45 + u() * 355, 1)
    ok = cancelled == 0

    def gauss():
        return rng.standard_normal(n)

    def opt(p: float, hi: float, rnd: bool = True):
        v = u() * hi
        return pa.array(np.round(v, 1) if rnd else v, mask=u() >= p)

    def div(p: float, blanks: bool):
        ap = pick(codes, weights)
        if blanks:
            b = u()
            ap = np.where(b < 0.2, "", np.where(b < 0.4, "  ", ap))
        return np.where((diverted == 1) & (u() < p), ap, None)

    cols = {
        "FlightDate": pa.array(date),
        "Year": year.astype(np.int32),
        "Month": when.month.astype(np.int32),
        "DayOfMonth": when.day.astype(np.int32),
        "DayOfWeek": (when.dayofweek + 1).astype(np.int32),
        "IATA_Code_Operating_Airline": pick([a[0] for a in AIRLINES],
                                            [a[3] for a in AIRLINES]),
        "Flight_Number_Operating_Airline": fno,
        "Tail_Number": tail,
        "Distance": distance,
        "Origin": origin,
        "OriginCityName": np.char.add(origin.astype(str), " City"),
        "OriginStateName": np.char.add(origin.astype(str), "-State"),
        "Dest": dest,
        "DestCityName": np.char.add(dest.astype(str), " City"),
        "DestStateName": np.char.add(dest.astype(str), "-State"),
        "CRSArrTime": crs_arr,
        "CRSDepTime": crs_dep,
        "CRSElapsedTime": crs_elapsed,
        "ActualElapsedTime": pa.array(
            np.round(crs_elapsed + gauss() * 12, 1), mask=~ok),
        "Cancelled": cancelled,
        "CancellationCode": np.where(ok, None, "A"),
        "Diverted": diverted,
        "ArrDelayMinutes": pa.array(np.round(np.maximum(
            12 + gauss() * 18 + 20 * np.isin(origin, DELAY_PRONE), 0.0), 1),
            mask=~ok),
        "DepDelayMinutes": pa.array(
            np.round(np.maximum(10 + gauss() * 15, 0.0), 1), mask=~ok),
        # unrounded: rounded averages must not sit on .005 boundaries
        "CarrierDelay": opt(0.3, 60.0, rnd=False),
        "WeatherDelay": opt(0.1, 40.0),
        "NASDelay": opt(0.2, 30.0),
        "SecurityDelay": opt(0.02, 20.0),
        "LateAircraftDelay": opt(0.25, 90.0),
        "Div1Airport": div(1.0, blanks=False),
        "Div2Airport": div(0.3, blanks=True),
        "Div3Airport": div(0.1, blanks=False),
        "Div4Airport": np.full(n, None),
        "Div5Airport": np.full(n, None),
    }
    arrow = {"date": pa.date32(), "integer": pa.int32(), "double": pa.float64(),
             "string": pa.string()}
    return pa.table({
        f.name: pa.array(cols[f.name], arrow[f.dataType.typeName()])
        if not isinstance(cols[f.name], pa.Array)
        else cols[f.name].cast(arrow[f.dataType.typeName()])
        for f in FLIGHTS_RAW_SCHEMA.fields
    })


def write_flight_inputs(seed: int, root: str, n: int,
                        n_aircraft: int) -> dict[str, str]:
    """``Flights_<year>.csv`` directories plus the three dimension CSVs."""
    shutil.rmtree(root, ignore_errors=True)
    raw = os.path.join(root, "raw")
    table = flights_table(seed, n, n_aircraft)
    years = table.column("Year").to_numpy()
    opts = pacsv.WriteOptions(quoting_style="needed")
    for y in YEARS:
        d = os.path.join(raw, f"Flights_{y}.csv")
        os.makedirs(d)
        pacsv.write_csv(table.filter(pa.array(years == y)),
                        os.path.join(d, "part-0.csv"), opts)
    paths = {"raw": raw}
    # dimensions in the same CSV shape (header row, null as empty field)
    for name, rows in dims(seed, n_aircraft).items():
        p = os.path.join(root, f"{name}.csv")
        with open(p, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(DIM_SCHEMAS[name].fieldNames())
            w.writerows(["" if v is None else v for v in r] for r in rows)
        paths[name] = p
    return paths


def feed_frame(spark: SparkSession, seed: int, n_files: int, per_file: int,
               n_aircraft: int) -> DataFrame:
    """OpenSky state vectors with a ``__file`` column (replay order).

    Files ``0..n_files-1`` each hold one event minute; row 0 of each
    file is an anchor at the minute's last second (callsign and
    position set), so every pipeline's watermark reaches exactly that
    second after the file. Rows ``1..LATE_PER_FILE`` of files >= 2 are
    late: 150-180 s before their file's minute, so their whole window
    ends at or before the watermark of two files back, which is the
    one Spark applies to late rows in a stateful operator. File
    ``n_files`` is one far-future sentinel that closes every real
    window.
    """
    u = lambda salt: F.col(f"u{salt}")  # noqa: E731
    total = n_files * per_file
    df = spark.range(0, total + 1, numPartitions=4)
    df = _with_uniforms(df, seed, range(1, 20)).select(
        "*",
        F.least((F.col("id") / per_file).cast("int"), F.lit(n_files))
        .alias("__file"),
        (F.col("id") % per_file).cast("int").alias("__slot"),
        F.floor(F.pow(F.col("u2"), 2.0) * n_aircraft).cast("int").alias("__k"),
    )
    f, slot = F.col("__file"), F.col("__slot")
    is_sentinel = f == n_files
    anchor = (slot == 0) | is_sentinel
    late = (f >= 2) & (slot >= 1) & (slot <= LATE_PER_FILE) & ~is_sentinel
    minute0 = F.lit(FEED_T0) + f.cast("long") * 60
    ts = (
        F.when(is_sentinel, minute0 + 3600)
        .when(anchor, minute0 + 59)
        .when(late, minute0 - 180 + F.floor(u(1) * 30).cast("long"))
        .otherwise(minute0 + F.floor(u(1) * 60).cast("long"))
    )
    # icao24: skewed over the aircraft dim, with misses and dirty keys
    k = F.col("__k")
    base_icao = F.format_string("%s%05x", F.when(k % 10 == 0, F.when(
        u(3) < 0.5, F.lit("a")).otherwise(F.lit("b"))).otherwise(F.lit("a")), k)
    r = u(4)
    staged_icao = F.col("__bicao")
    icao = (
        F.when(anchor | late, staged_icao)
        .when(r < 0.05, F.format_string("f%05x", k))
        .when(r < 0.08, F.concat(F.lit(" "), F.upper(staged_icao), F.lit(" ")))
        .when(r < 0.09, F.lit(""))
        .otherwise(staged_icao)
    )
    icaos = [a[1] for a in AIRLINES if a[1] and a[1].strip()]
    fno = (100 + F.floor(F.pow(u(5), 2.0) * 900)).cast("int")
    airline_cs = F.concat(
        _pick(icaos, [1.0 / (j + 1) for j in range(len(icaos))], u(6)),
        fno.cast("string"),
    )
    c = u(7)
    callsign = (
        F.when(anchor | late, F.col("__acs"))
        .when(c < 0.60, F.col("__acs"))
        .when(c < 0.70, F.concat(F.lit("N"), (F.floor(u(8) * 900) + 100)
                                 .cast("int").cast("string"), F.lit("AB")))
        .when(c < 0.75, F.lit("  "))
        .when(c < 0.80, F.lit(None).cast("string"))
        .when(c < 0.85, F.lit("QX"))
        .otherwise(F.concat(F.lit("ZQ"), F.floor(u(9) * 90).cast("int")
                            .cast("string")))
    )
    # positions: near a main airport, anywhere in the US, or missing.
    # Late row j of a file sits exactly on main airport j and flies for
    # airline j: the stateful operators count watermark drops after the
    # partial aggregate, so each late event must be its own group there
    # for the drop count to equal the late-event count.
    mains = MAIN_AIRPORTS
    near = _pick(list(range(len(mains))), [0.8 ** j for j in range(len(mains))],
                 u(10))
    p = u(11)
    df = df.select(
        "*",
        base_icao.alias("__bicao"),
        F.when(late, F.concat(F.element_at(F.array(*map(F.lit, icaos)), slot),
                              fno.cast("string")))
        .otherwise(airline_cs).alias("__acs"),
        F.when(late, slot).when(is_sentinel, 1).otherwise(near + 1)
        .alias("__near"),
        F.when(late | is_sentinel, 0).when(anchor | (p < 0.35), 1)
        .when(p < 0.90, 2).otherwise(3).alias("__pos"),
    )
    near, pos_kind = F.col("__near"), F.col("__pos")
    lat_near = F.element_at(F.array(*[F.lit(a[1]) for a in mains]), near)
    lon_near = F.element_at(F.array(*[F.lit(a[2]) for a in mains]), near)
    lat = (F.when(pos_kind == 0, lat_near)
           .when(pos_kind == 1, lat_near + (u(12) - 0.5) * 0.4)
           .when(pos_kind == 2, 25.0 + u(12) * 24.0))
    lon = (F.when(pos_kind == 0, lon_near)
           .when(pos_kind == 1, lon_near + (u(13) - 0.5) * 0.4)
           .when(pos_kind == 2, -125.0 + u(13) * 58.0))
    return df.select(
        "__file",
        ts.alias("timestamp"),
        icao.alias("icao24"),
        callsign.alias("callsign"),
        F.lit("United States").alias("origin_country"),
        lon.alias("longitude"),
        lat.alias("latitude"),
        F.round(u(14) * 12000, 1).alias("geo_altitude"),
        F.round(u(15) * 260, 1).alias("velocity"),
        F.round(u(16) * 360, 1).alias("true_track"),
        F.round((u(17) - 0.5) * 20, 2).alias("vertical_rate"),
        (u(18) < 0.05).alias("on_ground"),
        F.round(u(19) * 12000, 1).alias("baro_altitude"),
    )


def late_events(n_files: int) -> int:
    return LATE_PER_FILE * (n_files - 2)


def write_feed(spark: SparkSession, seed: int, path: str, n_files: int,
               per_file: int, n_aircraft: int) -> int:
    """One NDJSON file per replay step, mtimes in replay order; returns
    the number of events written."""
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + "_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    fr = feed_frame(spark, seed, n_files, per_file, n_aircraft)
    (fr.select("__file", F.to_json(F.struct(*[c for c in fr.columns
                                              if c != "__file"])).alias("v"))
     .repartition("__file").sortWithinPartitions("v")
     .write.partitionBy("__file").text(tmp))
    os.makedirs(path)
    for i in range(n_files + 1):
        d = os.path.join(tmp, f"__file={i}")
        parts = sorted(x for x in os.listdir(d) if x.startswith("part-"))
        dst = os.path.join(path, f"events-{i:04d}.json")
        with open(dst, "wb") as out:
            for part in parts:
                with open(os.path.join(d, part), "rb") as src:
                    shutil.copyfileobj(src, out)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    shutil.rmtree(tmp)
    return n_files * per_file + 1


VOCAB = ("a the row scan join hash sort key agg group window stream batch "
         "spark table column value part line order customer data query "
         "filter merge vector small big fast slow").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_W = [0.42, 0.15, 0.15, 0.14, 0.14]


def documents_table(seed: int, n: int) -> pa.Table:
    """``documents`` (doc_id, text, lang, source, n_chars): bags of a
    30-word vocabulary; about one doc in twenty is a near-duplicate,
    an earlier document with `` dup`` appended."""
    rng = random.Random(seed * 31 + 5)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choices(LANGS, LANG_W)[0] for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int, dim: int = 64) -> pa.Table:
    """``embeddings`` (vec_id, embedding float[dim], label): unit
    Gaussian directions with a random label in 0..9."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_catalog_tables(root: str, seed: int, n_docs: int,
                         n_vecs: int) -> str:
    """The catalog's ``documents`` and ``embeddings`` tables as parquet
    under ``root``, the ``sf_dir`` the catalog entries read."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    pq.write_table(documents_table(seed, n_docs),
                   os.path.join(root, "documents.parquet"))
    pq.write_table(embeddings_table(seed, n_vecs),
                   os.path.join(root, "embeddings.parquet"))
    return root


def digest(paths: list[str]) -> str:
    """sha256 over the data files' bytes under ``paths``, in path order
    (the random job id in Spark's part-file names is dropped, and
    checksum files are skipped, so the digest covers content only)."""
    h = hashlib.sha256()
    for root in paths:
        files = []
        for d, _, names in os.walk(root):
            files += [os.path.join(d, x) for x in names
                      if not x.startswith((".", "_"))]
        named = sorted((_UUID.sub("", os.path.relpath(p, root)), p)
                       for p in files)
        for name, p in named:
            h.update(name.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
