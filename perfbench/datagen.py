"""Seeded input generators for the benchmark workloads.

Two families, both a pure function of (seed, size):

* ``write_tables`` -- the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` parquet tables that the registry
  queries read (schemas and value ranges as in FIXTURES.md section B).
* ``write_rideshare`` -- the reference's 15-column trips CSV and the
  265-row zone lookup (FIXTURES.md section A): 2023 months 1-5, about
  1 % Lyft, Unknown and EWR boroughs, unmatched zone ids, and January
  days whose average wait exceeds 300 s.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (microseconds) uniform over [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def write_tables(out_dir, seed, sf):
    """Write the ten registry tables at scale factor ``sf`` into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    keys = np.arange(n_part)
    names = (np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)] + " "
             + np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)])
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)}),
        f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1), n_ord)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)}),
        f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["O", "F"], n_line),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4), n_line))}),
        f"{out_dir}/lineitem.parquet")
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(150, n_evt // 66), n_evt),
                            pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])}),
        f"{out_dir}/events.parquet")
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 100, n_docs)]
    # 5 % near-duplicates: another document's text plus one token
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out_dir}/embeddings.parquet")


BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island"]
TIMES_OF_DAY = ["morning", "afternoon", "evening", "night"]


def write_rideshare(out_dir, seed, rows):
    """Write rideshare_data.csv (``rows`` trips) and taxi_zone_lookup.csv."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(1, 266)
    borough = np.asarray(BOROUGHS, dtype=object)[rng.integers(0, 5, 265)]
    borough[0], borough[263], borough[264] = "EWR", "Unknown", "Unknown"
    service = np.where(borough == "Manhattan", "Yellow Zone", "Boro Zone").astype(object)
    service[0], service[263], service[264] = "EWR", "N/A", "N/A"
    service[rng.choice(np.arange(1, 263), 3, replace=False)] = "Airports"
    zone = np.asarray([f"Zone {i}" for i in ids], dtype=object)
    zone[0], zone[264] = "Newark Airport", "NA"
    pacsv.write_csv(pa.table({"LocationID": ids, "Borough": pa.array(borough),
                              "Zone": pa.array(zone),
                              "service_zone": pa.array(service)}),
                    f"{out_dir}/taxi_zone_lookup.csv")

    # zone ids 1-265 plus a few unmatched ones (266-270) on both sides
    def location():
        loc = rng.integers(1, 266, rows)
        odd = rng.random(rows) < 0.005
        loc[odd] = rng.integers(266, 271, int(odd.sum()))
        return loc
    day0 = int(dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    day = rng.integers(0, 151, rows)  # 2023-01-01 .. 2023-05-31
    # the first five January days run slow, so their average wait
    # clears the 300 s threshold T5 reports
    wait = np.round(rng.gamma(4.0, np.where(day < 5, 100.0, 45.0)), 1)
    length = np.round(rng.gamma(2.0, 2.5, rows) + 0.1, 2)
    ride = np.round(length * rng.uniform(120, 300, rows) + 60, 1)
    fare = np.round(2.5 + length * rng.uniform(1.5, 4.0, rows), 2)
    pay = np.round(fare * rng.uniform(0.5, 1.2, rows), 2)
    pacsv.write_csv(pa.table({
        "business": pa.array(np.where(rng.random(rows) < 0.01, "Lyft", "Uber")),
        "pickup_location": location(),
        "dropoff_location": location(),
        "trip_length": length,
        "request_to_pickup": wait,
        "total_ride_time": ride,
        "on_scene_to_pickup": np.round(rng.uniform(0, 120, rows), 1),
        "on_scene_to_dropoff": np.round(ride + rng.uniform(0, 120, rows), 1),
        "time_of_day": pa.array(np.asarray(TIMES_OF_DAY, dtype=object)[
            rng.integers(0, 4, rows)]),
        "date": day0 + day * 86400,
        "passenger_fare": fare,
        "driver_total_pay": pay,
        "rideshare_profit": np.round(fare - pay, 2),
        "hourly_rate": np.round(pay / np.maximum(ride, 1) * 3600, 2),
        "dollars_per_mile": np.round(pay / length, 2)}),
        f"{out_dir}/rideshare_data.csv")
