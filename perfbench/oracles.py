"""Correctness gates, run outside every timed region.

- flight results: each Parquet result is read by DuckDB and compared
  with an independent SQL restatement of the reference semantics (the
  restatements follow ``tests/test_flight_oracle.py``; Q2 and the
  duplicate-registration handling of L1 are added here);
- catalog entries: the collected Spark rows are compared with the
  catalog's own DuckDB ``ORACLES``, bit-exact under
  ``tools/selfcheck.normalize``'s canonical form;
- stream sinks: compared with the batch run of the same plans over the
  same feed (see ``workloads.FlightStream.check``).

Every function returns a list of mismatch descriptions; empty means
correct.
"""

from __future__ import annotations

import decimal
import math

from big_data_flight_analytics_spark.constants import MIN_FLIGHTS_THRESHOLD

M = MIN_FLIGHTS_THRESHOLD

_SCORED = f"""
    WITH counts AS (
        SELECT Origin AS AirportCode, OriginCityName AS CityName,
               OriginStateName AS StateName, COUNT(*) AS FlightCount
        FROM flights GROUP BY 1, 2, 3 HAVING COUNT(*) > {M}
    ), stats AS (
        SELECT MIN(FlightCount) AS mn, MAX(FlightCount) AS mx,
               SUM(FlightCount) AS tot FROM counts
    )
    SELECT c.AirportCode, c.CityName, c.StateName,
           CAST(c.FlightCount AS BIGINT) AS FlightCount,
           CASE WHEN s.mx = s.mn THEN 100.0
                ELSE (c.FlightCount - s.mn) * 1.0 / (s.mx - s.mn) * 100
           END AS BusynessScorePercent,
           CASE WHEN s.tot > 0 THEN c.FlightCount * 1.0 / s.tot * 100
                ELSE 0.0 END AS ShareOfTotalFlightsPercent,
           ap.latitude, ap.longitude, ap.name AS AirportName
    FROM counts c CROSS JOIN stats s
    LEFT JOIN airports ap ON c.AirportCode = ap.iata
"""

FLIGHT_SQL = {
    "q1_airline_stats": f"""
        WITH agg AS (
            SELECT IATA AS AirlineCode,
                   AVG(ABS(ActualElapsedTime - CRSElapsedTime)) AS AvgErrorMinutes,
                   COUNT(*) AS FlightCount,
                   COUNT(CASE WHEN ArrDelayMinutes > 15.0 THEN 1 END) AS Delayed
            FROM flights GROUP BY 1 HAVING COUNT(*) > {M}
        )
        SELECT a.AirlineCode, a.AvgErrorMinutes,
               (1.0 - (Delayed * 1.0 / FlightCount)) * 100 AS OnTimePerformance,
               al.Name AS AirlineName
        FROM agg a LEFT JOIN airlines al ON a.AirlineCode = al.IATA
    """,
    "q2_airport_departure_delays": f"""
        WITH agg AS (
            SELECT Origin AS AirportCode, OriginCityName, OriginStateName,
                   AVG(DepDelayMinutes) AS AvgDepDelayMinutes
            FROM flights GROUP BY 1, 2, 3 HAVING COUNT(*) > {M}
        )
        SELECT a.*, ap.latitude, ap.longitude, ap.name AS AirportName
        FROM agg a LEFT JOIN airports ap ON a.AirportCode = ap.iata
    """,
    "q3_busiest_airports": _SCORED,
    "q4_busiest_weeks": f"""
        SELECT Month,
               CAST(weekofyear(FlightDate) AS INTEGER) AS WeekOfYear,
               COUNT(*) AS FlightCount,
               COUNT(CASE WHEN ArrDelayMinutes > 15.0 THEN 1 END)
                   AS DelayedFlightCount,
               CASE WHEN COUNT(*) > 0 THEN
                   COUNT(CASE WHEN ArrDelayMinutes > 15.0 THEN 1 END) * 1.0
                   / COUNT(*) * 100 END AS DelayedFlightPercent
        FROM flights GROUP BY 1, 2 HAVING COUNT(*) > {M}
    """,
    "q5_delay_reasons": """
        SELECT 'CarrierDelay' AS DelayReason,
               AVG(CarrierDelay) AS AvgDelayMinutes FROM flights
        UNION ALL SELECT 'WeatherDelay', AVG(WeatherDelay) FROM flights
        UNION ALL SELECT 'NASDelay', AVG(NASDelay) FROM flights
        UNION ALL SELECT 'SecurityDelay', AVG(SecurityDelay) FROM flights
        UNION ALL SELECT 'LateAircraftDelay', AVG(LateAircraftDelay)
            FROM flights
    """,
    "q6_days_with_cancellations": f"""
        SELECT DayOfWeek, COUNT(*) AS FlightCount,
               COUNT(CASE WHEN Cancelled = 1 THEN 1 END) AS CancellationCount,
               CASE WHEN COUNT(*) > 0 THEN
                   COUNT(CASE WHEN Cancelled = 1 THEN 1 END) * 1.0
                   / COUNT(*) * 100 END AS CancellationPercent
        FROM flights GROUP BY 1 HAVING COUNT(*) > {M}
    """,
    "q7_distance_delay_correlation": f"""
        WITH b AS (
            SELECT *,
                CASE WHEN Distance >= 2500 THEN 10.0
                     ELSE FLOOR(Distance / 250.0) END AS DistanceCategory,
                CASE WHEN Distance >= 2500 THEN '2500+'
                     ELSE CAST(CAST(FLOOR(Distance / 250.0) * 250 AS INTEGER) AS VARCHAR)
                          || '-' ||
                          CAST(CAST(FLOOR(Distance / 250.0) * 250 + 250 AS INTEGER) AS VARCHAR)
                END AS DistanceBucket
            FROM flights
        )
        SELECT DistanceCategory, DistanceBucket,
               AVG(Distance) AS AvgDistance,
               CASE WHEN COUNT(*) > 0 THEN
                   COUNT(CASE WHEN ArrDelayMinutes > 15.0 THEN 1 END) * 1.0
                   / COUNT(*) END AS ProbabilityOfDelay
        FROM b GROUP BY 1, 2 HAVING COUNT(*) > {M}
    """,
    "q8_problematic_routes": f"""
        WITH overall AS (
            SELECT CASE WHEN COUNT(*) > 0 THEN
                COUNT(CASE WHEN ArrDelayMinutes > 15.0 THEN 1 END) * 1.0
                / COUNT(*) * 100 ELSE 0.0 END AS pct
            FROM flights
        ), routes AS (
            SELECT Origin AS OriginCode, Dest AS DestCode,
                   OriginCityName, DestCityName,
                   COUNT(*) AS FlightCount,
                   COUNT(CASE WHEN ArrDelayMinutes > 15.0 THEN 1 END) AS Delayed
            FROM flights GROUP BY 1, 2, 3, 4 HAVING COUNT(*) > {M}
        )
        SELECT OriginCode || '-' || DestCode AS Route,
               OriginCode, DestCode, OriginCityName, DestCityName,
               FlightCount,
               CASE WHEN o.pct > 0
                    THEN (Delayed * 1.0 / FlightCount * 100) / o.pct
                    ELSE 1.0 END AS ProblematicScore
        FROM routes CROSS JOIN overall o
        WHERE CASE WHEN o.pct > 0
                   THEN (Delayed * 1.0 / FlightCount * 100) / o.pct
                   ELSE 1.0 END >= 1.2
    """,
    "q9_diverted_flights_by_airport": f"""
        WITH unp AS (
            SELECT Div1Airport AS AirportCode FROM flights WHERE Diverted = 1
            UNION ALL SELECT Div2Airport FROM flights WHERE Diverted = 1
            UNION ALL SELECT Div3Airport FROM flights WHERE Diverted = 1
            UNION ALL SELECT Div4Airport FROM flights WHERE Diverted = 1
            UNION ALL SELECT Div5Airport FROM flights WHERE Diverted = 1
        ), counts AS (
            SELECT AirportCode, COUNT(*) AS DivertedFlightCount
            FROM unp
            WHERE AirportCode IS NOT NULL AND trim(AirportCode) <> ''
            GROUP BY 1 HAVING COUNT(*) > {M}
        )
        SELECT c.AirportCode, c.DivertedFlightCount,
               ap.latitude, ap.longitude, ap.name AS AirportName
        FROM counts c LEFT JOIN airports ap ON c.AirportCode = ap.iata
    """,
    "top_busiest_airports": _SCORED
    + " ORDER BY BusynessScorePercent DESC, c.AirportCode ASC LIMIT 10",
    # first(AirlineName) is deterministic: each ICAO names one airline,
    # so the callsign prefix fixes it and MIN() picks the same value
    "flights_lookup": """
        WITH al AS (
            SELECT IATA, ICAO, Name AS AirlineName FROM airlines
            WHERE length(trim(COALESCE(ICAO, ''))) > 0
        ), jf AS (
            SELECT al.ICAO || CAST(f.Flight_Number_Operating_Airline AS VARCHAR)
                       AS callsign,
                   al.AirlineName, f.CRSArrTime, f.CRSDepTime
            FROM flights f JOIN al ON f.IATA = al.IATA
        ), arr_counts AS (
            SELECT callsign, CRSArrTime, COUNT(*) AS cnt,
                   MIN(AirlineName) AS AirlineName
            FROM jf WHERE length(trim(callsign)) > 0 GROUP BY 1, 2
        ), dep_counts AS (
            SELECT callsign, CRSDepTime, COUNT(*) AS cnt
            FROM jf WHERE length(trim(callsign)) > 0 GROUP BY 1, 2
        ), arr_mode AS (
            SELECT callsign, CRSArrTime AS mode_arr, AirlineName
            FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY callsign
                      ORDER BY cnt DESC, CRSArrTime ASC) AS rn
                  FROM arr_counts) WHERE rn = 1
        ), dep_mode AS (
            SELECT callsign, CRSDepTime AS mode_dep
            FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY callsign
                      ORDER BY cnt DESC, CRSDepTime ASC) AS rn
                  FROM dep_counts) WHERE rn = 1
        )
        SELECT a.callsign, a.AirlineName,
               printf('%02d:%02d', CAST(FLOOR(a.mode_arr / 100.0) AS INTEGER),
                      a.mode_arr % 100) AS CRSArrTime,
               printf('%02d:%02d', CAST(FLOOR(d.mode_dep / 100.0) AS INTEGER),
                      d.mode_dep % 100) AS CRSDepTime
        FROM arr_mode a JOIN dep_mode d USING (callsign)
    """,
    # The dimension repeats registrations, and the engine keeps an
    # arbitrary icao24 per registration (the reference's dropDuplicates).
    # The restatement therefore works per registration; the Spark side
    # is mapped back from icao24 to registration before comparing, and
    # every icao24 it chose is checked to belong to that registration.
    "aircrafts_lookup": """
        WITH agg AS (
            SELECT Tail_Number AS registration,
                   ROUND(AVG(CarrierDelay), 2) AS AvgCarrierDelayMinutes,
                   COUNT(*) AS FlightCount
            FROM flights
            WHERE Tail_Number IS NOT NULL AND Tail_Number <> ''
            GROUP BY 1
        ), joined AS (
            SELECT * FROM agg
            WHERE registration IN (SELECT registration FROM aircrafts)
        ), stats AS (
            SELECT COALESCE(MIN(AvgCarrierDelayMinutes), 0) AS mn,
                   COALESCE(MAX(AvgCarrierDelayMinutes), 0) AS mx
            FROM joined
        )
        SELECT registration, AvgCarrierDelayMinutes,
               CAST(FlightCount AS BIGINT) AS FlightCount,
               ROUND((AvgCarrierDelayMinutes - s.mn) /
                     (CASE WHEN s.mx > s.mn THEN s.mx - s.mn ELSE 1.0 END), 4)
                   AS DelayScore01
        FROM joined CROSS JOIN stats s
    """,
}

SPARK_AIRCRAFTS_SQL = """
    SELECT a.registration, r.AvgCarrierDelayMinutes, r.FlightCount,
           r.DelayScore01
    FROM result r JOIN aircrafts a USING (icao24)
"""


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def compare_rows(name: str, scols, srows, dcols, drows) -> list[str]:
    """Order-insensitive comparison; floats to 1e-9 relative (sums of
    doubles accumulate in engine-specific order)."""
    if sorted(scols) != sorted(dcols):
        return [f"{name}: columns {sorted(scols)} != {sorted(dcols)}"]
    if len(srows) != len(drows):
        return [f"{name}: {len(srows)} rows != oracle {len(drows)}"]
    if not srows:
        return [f"{name}: empty result"]

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(_canon(r[i]) for i in order) for r in rows]
        return sorted(out, key=lambda t: repr(tuple(
            round(v, 6) if isinstance(v, float) else v for v in t)))

    errors = []
    for a, b in zip(canon(scols, srows), canon(dcols, drows)):
        for va, vb in zip(a, b):
            if isinstance(va, float) and isinstance(vb, float):
                ok = math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9)
            else:
                ok = va == vb
            if not ok:
                errors.append(f"{name}: {a} != oracle {b}")
                break
        if len(errors) >= 3:
            break
    return errors


def check_flight_results(con, results: dict[str, str]) -> list[str]:
    """``con`` has views ``flights`` (the seeded source, in the ETL's
    output columns), ``airlines``,
    ``airports`` and ``aircrafts``; ``results`` maps each result name
    to its Parquet directory."""
    errors = []
    for name, path in results.items():
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            if name == "aircrafts_lookup":
                con.register("result", rel)
                orphans = con.sql("""
                    SELECT COUNT(*) FROM result r
                    LEFT JOIN aircrafts a USING (icao24)
                    WHERE a.registration IS NULL""").fetchone()[0]
                if orphans:
                    errors.append(f"{name}: {orphans} icao24 not in the dim")
                    continue
                rel = con.sql(SPARK_AIRCRAFTS_SQL)
            ora = con.sql(FLIGHT_SQL[name])
            errors += compare_rows(name, rel.columns, rel.fetchall(),
                                   ora.columns, ora.fetchall())
        except Exception as e:  # noqa: BLE001 - a broken result is a finding
            errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
    return errors


def check_catalog_entry(name: str, dcols, drows, scols, srows) -> list[str]:
    """Bit-exact comparison of Spark rows with the catalog oracle's
    rows, as the selfcheck tool does it."""
    from tools.selfcheck import normalize

    if sorted(scols) != sorted(dcols):
        return [f"{name}: columns {sorted(scols)} != {sorted(dcols)}"]
    if len(srows) != len(drows):
        return [f"{name}: {len(srows)} rows != oracle {len(drows)}"]
    a, b = normalize(srows, scols), normalize(drows, dcols)
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return [f"{name}: {bad} of {len(a)} rows differ"] if bad else []
