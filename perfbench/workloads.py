"""The benchmark's workloads: set-up, one timed pass, correctness check.

A pass is the unit the benchmark repeats, closed loop, on one driver
thread: each operation starts when the previous one has finished.

- ``flight_batch``: the paper's batch layer. CSV -> partitioned Parquet
  ETL, then Q1-Q9 and the three lookups, each written to Parquet (the
  stand-in for the MongoDB serving layer). Operations are the 12
  results; the ETL is timed as its own step.
- ``flight_stream``: the paper's speed layer. The seeded feed is
  replayed one file per trigger through stream enrichment (s1) and the
  two one-minute windowed distinct counts (s2, s3), one pipeline after
  another, each into a Parquet file sink. Operations are the triggers
  that carried data.
- ``catalog_heavy``: costly catalog entries, each built with
  ``fn(spark, sf_dir)`` and executed by collecting its rows, in
  isolation. The rows of every pass are checked.

``BENCHMARK.json`` lists ``flight_batch`` and ``catalog_heavy``. A
``flight_stream`` run takes about two minutes on a 4-core host (a
trigger costs about half a second), too long to repeat dozens of times
per comparison, so it runs by name only.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracles
from big_data_flight_analytics_spark.cache import release_tracked
from big_data_flight_analytics_spark.plans import flight_queries as FQ
from big_data_flight_analytics_spark.schemas import FLIGHTS_RAW_SCHEMA
from big_data_flight_analytics_spark.sources.readers import (
    read_csv,
    read_parquet,
)
from big_data_flight_analytics_spark.sources.writers import write_parquet
from big_data_flight_analytics_spark.streaming.enrichment import (
    enrich_stream,
    parse_opensky,
    transformed_stream,
)
from big_data_flight_analytics_spark.streaming.windowed_counts import (
    airline_aircraft_counts,
    airport_aircraft_counts,
)


@dataclass
class Op:
    """One operation: a result, a catalog entry, or a trigger."""

    name: str
    start: float
    end: float
    build_end: float | None = None  # build/exec split, batch workloads
    info: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Pass:
    start: float
    end: float
    ops: list[Op]
    steps: list[Op] = field(default_factory=list)  # ETL, pipelines
    info: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, storage=None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        # called after each operation in traced passes, to sample the
        # block manager's cached bytes
        self.storage = storage

    def setup(self) -> dict[str, float]:
        """Generate inputs; returns named set-up timings."""
        raise NotImplementedError

    def run_pass(self) -> Pass:
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        """(checks attempted, mismatches), after the timed passes."""
        raise NotImplementedError

    def _sample_storage(self, p: Pass) -> None:
        if self.storage is not None:
            p.info["storage_peak"] = max(p.info.get("storage_peak", 0),
                                         self.storage())


# --- flight_batch ---------------------------------------------------------

N_FLIGHTS = 150_000
N_AIRCRAFT = 2000

FLIGHT_RESULTS = {
    "q1_airline_stats": lambda t: FQ.airline_stats(t["flights"], t["airlines"]),
    "q2_airport_departure_delays": lambda t: FQ.airport_departure_delays(
        t["flights"], t["airports"]),
    "q3_busiest_airports": lambda t: FQ.busiest_airports(
        t["flights"], t["airports"]),
    "q4_busiest_weeks": lambda t: FQ.busiest_weeks(t["flights"]),
    "q5_delay_reasons": lambda t: FQ.delay_reasons(t["flights"]),
    "q6_days_with_cancellations": lambda t: FQ.days_with_cancellations(
        t["flights"]),
    "q7_distance_delay_correlation": lambda t: FQ.distance_delay_correlation(
        t["flights"]),
    "q8_problematic_routes": lambda t: FQ.problematic_routes(t["flights"]),
    "q9_diverted_flights_by_airport": lambda t: FQ.diverted_flights_by_airport(
        t["flights"], t["airports"]),
    "top_busiest_airports": lambda t: FQ.top_busiest_airports(
        t["flights"], t["airports"]),
    "aircrafts_lookup": lambda t: FQ.aircrafts_lookup(
        t["flights"], t["aircrafts"]),
    "flights_lookup": lambda t: FQ.flights_lookup(t["flights"], t["airlines"]),
}


def read_dims(spark, paths: dict[str, str]) -> dict:
    return {name: read_csv(spark, paths[name], schema=gen.DIM_SCHEMAS[name])
            for name in gen.DIM_SCHEMAS}


class FlightBatch(Workload):
    name = "flight_batch"

    def setup(self) -> dict[str, float]:
        t0 = time.time()
        self.paths = gen.write_flight_inputs(
            self.seed, os.path.join(self.work, "inputs"), N_FLIGHTS,
            N_AIRCRAFT)
        return {"input_gen_s": time.time() - t0}

    def run_pass(self) -> Pass:
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        curated = os.path.join(out, "curated")
        self.curated = curated
        self.results = {n: os.path.join(out, "results", n)
                        for n in FLIGHT_RESULTS}
        p = Pass(time.time(), 0.0, [])
        t0 = time.time()
        raw = read_csv(self.spark, os.path.join(self.paths["raw"], "*"),
                       schema=FLIGHTS_RAW_SCHEMA)
        t1 = time.time()
        FQ.run_etl(raw, curated)
        p.steps.append(Op("etl", t0, time.time(), t1))
        self._sample_storage(p)
        tables = read_dims(self.spark, self.paths)
        tables["flights"] = read_parquet(self.spark, curated)
        for name, build in FLIGHT_RESULTS.items():
            t0 = time.time()
            df = build(tables)
            t1 = time.time()
            write_parquet(df, self.results[name])
            p.ops.append(Op(name, t0, time.time(), t1))
            self._sample_storage(p)
        p.end = time.time()
        p.info["etl_bytes"], p.info["etl_files"] = _dir_stats(curated)
        p.info["result_bytes"] = sum(_dir_stats(r)[0]
                                     for r in self.results.values())
        return p

    def check(self) -> tuple[int, list[str]]:
        # The oracle's ``flights`` is the seeded source, not the ETL
        # output, so a fault in the CSV read or the ETL cannot reach both
        # sides of a comparison. The ETL output itself is compared with
        # the source row for row.
        source = gen.flights_table(self.seed, N_FLIGHTS, N_AIRCRAFT)
        source = source.rename_columns([
            "IATA" if c == "IATA_Code_Operating_Airline" else c
            for c in source.column_names])
        con = duckdb.connect()
        try:
            con.register("source", source)
            # a CSV field cannot tell an empty string from a null; the
            # reader takes both as null
            fields = ", ".join(
                f"NULLIF({f.name}, '') AS {f.name}"
                if pa.types.is_string(f.type) else f.name
                for f in source.schema)
            con.sql(f"CREATE VIEW flights AS SELECT {fields}, "
                    f"CAST(Year AS VARCHAR) AS file_year FROM source")
            con.sql(f"CREATE VIEW curated AS SELECT * FROM read_parquet("
                    f"'{self.curated}/*/*.parquet', hive_partitioning=true, "
                    f"hive_types_autocast=false)")
            for name, rows in gen.dims(self.seed, N_AIRCRAFT).items():
                schema = gen.DIM_SCHEMAS[name]
                cols = ", ".join(
                    f"{f.name} {'DOUBLE' if f.dataType.typeName() == 'double' else 'VARCHAR'}"
                    for f in schema.fields)
                con.sql(f"CREATE TABLE {name} ({cols})")
                con.executemany(
                    f"INSERT INTO {name} VALUES "
                    f"({', '.join('?' * len(schema.fields))})", rows)
            errors = []
            cols = ", ".join(f'"{c}"' for c in con.sql(
                "SELECT * FROM flights").columns)
            n = con.sql("SELECT COUNT(*) FROM curated").fetchone()[0]
            diff = con.sql(f"""
                SELECT COUNT(*) FROM (
                    (SELECT {cols} FROM curated
                     EXCEPT ALL SELECT {cols} FROM flights)
                    UNION ALL
                    (SELECT {cols} FROM flights
                     EXCEPT ALL SELECT {cols} FROM curated))""").fetchone()[0]
            if n != N_FLIGHTS or diff:
                errors.append(f"etl: {n} rows, {diff} differ from the "
                              f"{N_FLIGHTS} source rows")
            errors += oracles.check_flight_results(con, self.results)
            return 1 + len(self.results), errors
        finally:
            con.close()


# --- flight_stream --------------------------------------------------------

N_FEED_FILES = 16
EVENTS_PER_FILE = 2000
N_LOOKUP_FLIGHTS = 60_000
STREAM_TIMEOUT_S = 120
PIPELINES = ("s1_enrich", "s2_airline_counts", "s3_airport_counts")
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def _progress_start(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class FlightStream(Workload):
    name = "flight_stream"

    def setup(self) -> dict[str, float]:
        spark = self.spark
        t0 = time.time()
        self.feed = os.path.join(self.work, "feed")
        self.events = gen.write_feed(spark, self.seed, self.feed, N_FEED_FILES,
                                     EVENTS_PER_FILE, N_AIRCRAFT)
        t1 = time.time()
        # the batch -> stream handoff: lookups from seeded flights
        path = os.path.join(self.work, "lookup_flights.parquet")
        pq.write_table(gen.flights_table(self.seed + 1, N_LOOKUP_FLIGHTS,
                                         N_AIRCRAFT), path)
        flights = read_parquet(spark, path).withColumnRenamed(
            "IATA_Code_Operating_Airline", "IATA")
        dims = {n: spark.createDataFrame(rows, gen.DIM_SCHEMAS[n])
                for n, rows in gen.dims(self.seed, N_AIRCRAFT).items()}
        built = {
            "aircrafts": FQ.aircrafts_lookup(flights, dims["aircrafts"]),
            "flights": FQ.flights_lookup(flights, dims["airlines"]),
            "airports": FQ.top_busiest_airports(flights, dims["airports"]),
        }
        self.lookups = {}
        for name, df in built.items():
            path = os.path.join(self.work, "lookups", name)
            write_parquet(df, path)
            self.lookups[name] = read_parquet(spark, path)
        return {"input_gen_s": t1 - t0, "lookups_s": time.time() - t1}

    def _stream(self):
        raw = (self.spark.readStream.option("maxFilesPerTrigger", 1)
               .text(self.feed))
        return transformed_stream(parse_opensky(raw))

    def _plans(self, stream):
        lk = self.lookups
        return {
            "s1_enrich": enrich_stream(stream, lk["aircrafts"], lk["flights"]),
            "s2_airline_counts": airline_aircraft_counts(stream),
            "s3_airport_counts": airport_aircraft_counts(stream, lk["airports"]),
        }

    def run_pass(self) -> Pass:
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        self.sinks = {n: os.path.join(out, n) for n in PIPELINES}
        self.progress: dict[str, list[dict]] = {}
        p = Pass(time.time(), 0.0, [])
        for name in PIPELINES:
            t0 = time.time()
            q = (self._plans(self._stream())[name].writeStream
                 .format("parquet").outputMode("append")
                 .option("path", self.sinks[name])
                 .option("checkpointLocation",
                         os.path.join(out, "_ckpt_" + name))
                 .trigger(availableNow=True).start())
            try:
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    raise RuntimeError(f"{name}: not drained in "
                                       f"{STREAM_TIMEOUT_S} s")
            finally:
                if q.isActive:
                    q.stop()
            t1 = time.time()
            if q.exception() is not None:
                raise RuntimeError(f"{name}: {q.exception()}")
            progress = [json_progress(x) for x in q.recentProgress]
            self.progress[name] = progress
            p.steps.append(Op(name, t0, t1, info={"events": sum(
                x["numInputRows"] for x in progress)}))
            for x in progress:
                if x["numInputRows"] > 0:
                    start = _progress_start(x["timestamp"])
                    p.ops.append(Op(
                        name, start,
                        start + x["durationMs"]["triggerExecution"] / 1e3,
                        info=x))
            self._sample_storage(p)
        p.end = time.time()
        # file sinks report no output count; the Parquet footers have it
        p.info["sink_rows"] = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d in self.sinks.values() for f in os.listdir(d)
            if f.endswith(".parquet"))
        return p

    def check(self) -> tuple[int, list[str]]:
        spark = self.spark
        errors = []
        late = gen.late_events(N_FEED_FILES)
        for name, progress in self.progress.items():
            consumed = sum(x["numInputRows"] for x in progress)
            if consumed != self.events:
                errors.append(f"{name}: consumed {consumed} of "
                              f"{self.events} events")
            if name != "s1_enrich":
                dropped = sum(s["numRowsDroppedByWatermark"]
                              for x in progress for s in x["stateOperators"])
                if dropped != late:
                    errors.append(f"{name}: watermark dropped {dropped}, "
                                  f"generator made {late} late events")
        # batch run of the same plans over the same feed. A late event
        # is one older than the minute its file opens; the far-future
        # sentinel's window never closes, so only windows that end by
        # the sentinel's file are expected in the sinks.
        raw = spark.read.text(self.feed)
        file_no = F.regexp_extract(F.input_file_name(), r"events-(\d+)\.json",
                                   1).cast("long")
        ts = F.get_json_object("value", "$.timestamp").cast("long")
        on_time = raw.filter(ts >= F.lit(gen.FEED_T0) + file_no * 60)
        closed_ms = (gen.FEED_T0 + N_FEED_FILES * 60) * 1000
        expected = self._plans(transformed_stream(parse_opensky(raw)))
        on_time_plans = self._plans(transformed_stream(parse_opensky(on_time)))
        expected["s2_airline_counts"] = on_time_plans[
            "s2_airline_counts"].filter(F.col("window_end_ms") <= closed_ms)
        expected["s3_airport_counts"] = on_time_plans[
            "s3_airport_counts"].filter(F.col("window_end_ms") <= closed_ms)
        for name in PIPELINES:
            got = spark.read.parquet(self.sinks[name])
            want = expected[name].select(*got.columns)
            n_got, n_want = got.count(), want.count()
            diff = got.exceptAll(want).count() + want.exceptAll(got).count()
            if n_got == 0 or n_got != n_want or diff:
                errors.append(f"{name}: sink {n_got} rows, batch {n_want}, "
                              f"{diff} differ")
        return 3 * len(PIPELINES) - 1, errors


def json_progress(p) -> dict:
    """Plain dict of the fields used from a StreamingQueryProgress."""
    return {
        "timestamp": p.timestamp,
        "batchId": p.batchId,
        "numInputRows": p.numInputRows,
        "durationMs": dict(p.durationMs),
        "stateOperators": [
            {"numRowsTotal": s.numRowsTotal,
             "memoryUsedBytes": s.memoryUsedBytes,
             "commitTimeMs": s.commitTimeMs,
             "numRowsDroppedByWatermark": s.numRowsDroppedByWatermark}
            for s in p.stateOperators
        ],
    }


# --- catalog_heavy --------------------------------------------------------

CATALOG_ENTRIES = (
    "v7_pq_trained_topk", "v6_pq_topk", "d10_winnow_jaccard",
    "m1_multimodal_features",
)
N_DOCS = 500
N_VECS = 500


class CatalogHeavy(Workload):
    name = "catalog_heavy"

    def setup(self) -> dict[str, float]:
        from big_data_flight_analytics_spark.plans.catalog import QUERIES

        self.queries = {n: QUERIES[n] for n in CATALOG_ENTRIES}
        self.collected: list[dict] = []  # per pass: name -> (columns, rows)
        t0 = time.time()
        self.sf_dir = gen.write_catalog_tables(
            os.path.join(self.work, "catalog"), self.seed, N_DOCS, N_VECS)
        return {"input_gen_s": time.time() - t0}

    def run_pass(self) -> Pass:
        p = Pass(time.time(), 0.0, [])
        collected = {}
        for name, fn in self.queries.items():
            t0 = time.time()
            df = fn(self.spark, self.sf_dir)
            t1 = time.time()
            collected[name] = (df.columns, df.collect())
            p.ops.append(Op(name, t0, time.time(), t1))
            self._sample_storage(p)
            release_tracked()
        p.end = time.time()
        self.collected.append(collected)
        return p

    def check(self) -> tuple[int, list[str]]:
        """Compares the rows of every pass, warm-up included, with each
        entry's oracle, so state carried from one call to the next
        shows."""
        from big_data_flight_analytics_spark.plans.catalog import ORACLES

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{self.sf_dir}/{t}.parquet')")
            errors = []
            for name in self.queries:
                try:
                    ora = con.sql(ORACLES[name])
                    ocols, orows = ora.columns, ora.fetchall()
                    for i, collected in enumerate(self.collected):
                        cols, rows = collected[name]
                        errors += [f"pass {i}: {e}" for e in
                                   oracles.check_catalog_entry(
                                       name, ocols, orows, cols,
                                       [tuple(r) for r in rows])]
                except Exception as e:  # noqa: BLE001 - counted as a failure
                    errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return len(self.queries) * len(self.collected), errors
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (FlightBatch, FlightStream, CatalogHeavy)}
