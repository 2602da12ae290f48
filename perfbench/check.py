"""Output checks, replayed in DuckDB over the same generated inputs.

* Registry workloads: each query's check-pass parquet is compared with its
  registry oracle SQL by the rules of tools/check_oracle.py -- columns
  sorted by name, identical dtypes and row counts, rows equal in the
  produced order. A query without an oracle must still yield a readable
  output.
* rideshare_tasks: every T1-T7 output is recomputed from the CSVs with
  DuckDB SQL. Float aggregates compare within a relative 1e-9 (Spark and
  DuckDB sum in different orders); the formatted T2 sums within a cent.

Each function returns {output name: failure message} for the failures.
"""
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_registry(data_dir, out_dir, names, errors):
    fails = dict(errors)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in names:
        if name in fails:
            continue
        files = sorted(glob.glob(f"{out_dir}/check/{name}/*.parquet"))
        if not files:
            fails[name] = "no output"
            continue
        got = con.sql(f"SELECT * FROM '{files[0]}'").df()
        if name not in oracle:
            continue
        try:
            want = con.sql(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 -- any oracle error fails the check
            fails[name] = f"oracle error: {e}"
            continue
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            fails[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif got.dtypes.astype(str).tolist() != want.dtypes.astype(str).tolist():
            fails[name] = "dtypes differ"
        elif len(got) != len(want):
            fails[name] = f"rows {len(got)} != {len(want)}"
        elif not got.reset_index(drop=True).equals(want.reset_index(drop=True)):
            fails[name] = "values differ"
    return fails


TRIP_COLUMNS = {
    "business": "VARCHAR", "pickup_location": "INTEGER",
    "dropoff_location": "INTEGER", "trip_length": "DOUBLE",
    "request_to_pickup": "DOUBLE", "total_ride_time": "DOUBLE",
    "on_scene_to_pickup": "DOUBLE", "on_scene_to_dropoff": "DOUBLE",
    "time_of_day": "VARCHAR", "date": "BIGINT", "passenger_fare": "DOUBLE",
    "driver_total_pay": "DOUBLE", "rideshare_profit": "DOUBLE",
    "hourly_rate": "DOUBLE", "dollars_per_mile": "DOUBLE"}
ZONE_COLUMNS = {"LocationID": "INTEGER", "Borough": "VARCHAR", "Zone": "VARCHAR",
                "service_zone": "VARCHAR"}
ENRICHED = [c for c in TRIP_COLUMNS] + [
    f"{side}_{c}" for side in ("Pickup", "Dropoff")
    for c in ("Borough", "Zone", "service_zone")]

EXPECTED = {
    "t2_trip_count": "SELECT business, month(CAST(date AS DATE)) AS month, "
                     "count(*) AS trip_count FROM enriched GROUP BY 1, 2",
    "t2_total_profit": "SELECT business, month(CAST(date AS DATE)) AS month, "
                       "sum(rideshare_profit) FROM enriched GROUP BY 1, 2",
    "t2_total_earnings": "SELECT business, month(CAST(date AS DATE)) AS month, "
                         "sum(driver_total_pay) FROM enriched GROUP BY 1, 2",
    "t3_top_pickup_boroughs": """
        SELECT * EXCLUDE (r) FROM (
          SELECT Pickup_Borough, month(CAST(date AS DATE)) AS month,
                 count(*) AS trip_count,
                 dense_rank() OVER (PARTITION BY month(CAST(date AS DATE))
                                    ORDER BY count(*) DESC) AS r
          FROM enriched GROUP BY 1, 2) WHERE r <= 5""",
    "t3_top_dropoff_boroughs": """
        SELECT * EXCLUDE (r) FROM (
          SELECT Dropoff_Borough, month(CAST(date AS DATE)) AS month,
                 count(*) AS trip_count,
                 dense_rank() OVER (PARTITION BY month(CAST(date AS DATE))
                                    ORDER BY count(*) DESC) AS r
          FROM enriched GROUP BY 1, 2) WHERE r <= 5""",
    "t3_top_routes": "SELECT concat_ws(' to ', Pickup_Borough, Dropoff_Borough), "
                     "sum(driver_total_pay) AS s FROM enriched GROUP BY 1 "
                     "ORDER BY s DESC LIMIT 30",
    "t4_avg_pay": "SELECT time_of_day, avg(driver_total_pay) AS a FROM enriched "
                  "GROUP BY 1 ORDER BY a DESC",
    "t4_avg_length": "SELECT time_of_day, avg(trip_length) AS a FROM enriched "
                     "GROUP BY 1 ORDER BY a DESC",
    "t4_earning_per_mile": "SELECT time_of_day, avg(driver_total_pay) / "
                           "avg(trip_length) FROM enriched GROUP BY 1",
    "t5_january_wait": "SELECT day(CAST(date AS DATE)) AS d, avg(request_to_pickup) "
                       "FROM enriched WHERE month(CAST(date AS DATE)) = 1 "
                       "GROUP BY 1 ORDER BY d",
    "t5_days_over_300": "SELECT d FROM (SELECT day(CAST(date AS DATE)) AS d, "
                        "avg(request_to_pickup) AS a FROM enriched "
                        "WHERE month(CAST(date AS DATE)) = 1 GROUP BY 1) "
                        "WHERE a > 300",
    "t6_low_volume_slots": "SELECT Pickup_Borough, time_of_day, count(*) AS n "
                           "FROM enriched GROUP BY 1, 2 HAVING n > 0 AND n < 1000",
    "t6_evening_counts": "SELECT Pickup_Borough, 'evening', count(*) FROM enriched "
                         "WHERE time_of_day = 'evening' GROUP BY 1",
    "t7_routes": "SELECT concat_ws(' to ', Pickup_Zone, Dropoff_Zone) AS route, "
                 "count(*) FILTER (WHERE business = 'Uber'), "
                 "count(*) FILTER (WHERE business = 'Lyft'), count(*) "
                 "FROM enriched GROUP BY 1",
}


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(
            float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_match(got, want, ordered):
    """Row lists equal, floats within tolerance; unordered compares sorted."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((v is None, "" if v is None else str(v)) for v in r)
    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def _csv_rows(con, path):
    files = sorted(glob.glob(f"{path}/part-*.csv"))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_csv('{files[0]}', header=true, "
                       "all_varchar=true)").fetchall()


def check_rideshare(data_dir, out_dir, errors):
    fails = dict(errors)
    con = duckdb.connect()
    cols = lambda d: "{" + ", ".join(f"'{k}': '{v}'" for k, v in d.items()) + "}"
    con.execute(f"CREATE TABLE trips AS SELECT * FROM read_csv("
                f"'{data_dir}/rideshare_data.csv', header=true, "
                f"columns={cols(TRIP_COLUMNS)})")
    con.execute(f"CREATE TABLE zones AS SELECT * FROM read_csv("
                f"'{data_dir}/taxi_zone_lookup.csv', header=true, "
                f"columns={cols(ZONE_COLUMNS)})")
    trip_cols = ", ".join(
        "strftime(DATE '1970-01-01' + CAST(t.date // 86400 AS INTEGER), '%Y-%m-%d') AS date"
        if c == "date" else f"t.{c}" for c in TRIP_COLUMNS)
    con.execute(f"""CREATE TABLE enriched AS SELECT {trip_cols},
        p.Borough AS Pickup_Borough, p.Zone AS Pickup_Zone,
        p.service_zone AS Pickup_service_zone, d.Borough AS Dropoff_Borough,
        d.Zone AS Dropoff_Zone, d.service_zone AS Dropoff_service_zone
        FROM trips t LEFT JOIN zones p ON t.pickup_location = p.LocationID
        LEFT JOIN zones d ON t.dropoff_location = d.LocationID""")
    outputs = json.load(open(os.path.join(out_dir, "rideshare_outputs.json")))
    q = lambda sql: [tuple(r) for r in con.execute(sql).fetchall()]
    rows = lambda n: [tuple(r) for r in outputs[n]["rows"]]
    blank = lambda r: tuple("" if v is None else v for v in r)

    def t1_sample():
        where = " AND ".join(f'"{c}" IS NOT DISTINCT FROM ?' for c in ENRICHED)
        got = rows("t1_enriched_sample")
        return len(got) == 5 and all(
            con.execute(f"SELECT count(*) FROM enriched WHERE {where}", list(r))
            .fetchone()[0] > 0 for r in got)

    def t2(name, key):
        got = _csv_rows(con, outputs[name]["path"])
        if got is None:
            return False
        want = {(b, m): v for b, m, v in q(EXPECTED[name])}
        if len(got) != len(want):
            return False
        for b, m, v in got:
            w = want.get((b, int(m)))
            if w is None or (abs(float(v.replace(",", "")) - w) > 0.011 if key
                             else int(v) != w):
                return False
        return True

    def t5_wait():
        got = _csv_rows(con, outputs["t5_january_wait"]["path"])
        return got is not None and _rows_match(
            [(int(d), float(a)) for d, a in got], q(EXPECTED["t5_january_wait"]), True)

    def t6_sample():
        got = rows("t6_brooklyn_si_sample")
        zones = {r[0] for r in q("SELECT DISTINCT Pickup_Zone FROM enriched WHERE "
                                 "Pickup_Borough = 'Brooklyn' AND "
                                 "Dropoff_Borough = 'Staten Island'")}
        n = outputs["t6_brooklyn_si_count"]["count"]
        return len(got) == min(10, n) and all(
            r[0] == "Brooklyn" and r[1] == "Staten Island" and r[2] in zones for r in got)

    def t7():
        got = rows("t7_top_routes")
        want = {blank((r[0],))[0]: r[1:] for r in q(EXPECTED["t7_routes"])}
        top = sorted((v[2] for v in want.values()), reverse=True)[:10]
        return (len(got) == len(top) and [r[3] for r in got] == top and
                all(tuple(r[1:]) == want.get(blank((r[0],))[0]) for r in got))

    checks = {
        "t1_enriched_sample": t1_sample,
        "t1_enriched_count": lambda: outputs["t1_enriched_count"]["count"] ==
        q("SELECT count(*) FROM enriched")[0][0],
        "t2_trip_count": lambda: t2("t2_trip_count", False),
        "t2_total_profit": lambda: t2("t2_total_profit", True),
        "t2_total_earnings": lambda: t2("t2_total_earnings", True),
        "t3_top_pickup_boroughs": lambda: _rows_match(
            rows("t3_top_pickup_boroughs"), q(EXPECTED["t3_top_pickup_boroughs"]), False),
        "t3_top_dropoff_boroughs": lambda: _rows_match(
            rows("t3_top_dropoff_boroughs"), q(EXPECTED["t3_top_dropoff_boroughs"]), False),
        "t3_top_routes": lambda: _rows_match(
            [blank(r) for r in rows("t3_top_routes")],
            [blank(r) for r in q(EXPECTED["t3_top_routes"])], True),
        "t4_avg_pay": lambda: _rows_match(rows("t4_avg_pay"), q(EXPECTED["t4_avg_pay"]), True),
        "t4_avg_length": lambda: _rows_match(
            rows("t4_avg_length"), q(EXPECTED["t4_avg_length"]), True),
        "t4_earning_per_mile": lambda: _rows_match(
            rows("t4_earning_per_mile"), q(EXPECTED["t4_earning_per_mile"]), False),
        "t5_january_wait": t5_wait,
        "t5_days_over_300": lambda: _rows_match(
            rows("t5_days_over_300"), q(EXPECTED["t5_days_over_300"]), False)
        and len(rows("t5_days_over_300")) > 0,
        "t6_low_volume_slots": lambda: _rows_match(
            rows("t6_low_volume_slots"), q(EXPECTED["t6_low_volume_slots"]), False),
        "t6_evening_counts": lambda: _rows_match(
            rows("t6_evening_counts"), q(EXPECTED["t6_evening_counts"]), False),
        "t6_brooklyn_si_count": lambda: outputs["t6_brooklyn_si_count"]["count"] ==
        q("SELECT count(*) FROM enriched WHERE Pickup_Borough = 'Brooklyn' "
          "AND Dropoff_Borough = 'Staten Island'")[0][0],
        "t6_brooklyn_si_sample": t6_sample,
        "t7_top_routes": t7,
    }
    for name, ok in checks.items():
        if name in fails:
            continue
        if name not in outputs:
            fails[name] = "no output"
            continue
        try:
            if not ok():
                fails[name] = "differs from the DuckDB result"
        except Exception as e:  # noqa: BLE001 -- a crashing check is a failed check
            fails[name] = f"check error: {e}"
    return fails
