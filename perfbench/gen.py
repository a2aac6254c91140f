"""Seeded input generators.

Every table is a pure function of (seed, scale): the same arguments give
byte-identical parquet files. The star-schema and LLM tables follow the
column layout and value shapes of FIXTURES.md section A; the airline rows
follow section B, except that departure delay depends on the hour, the
airline and the month, so the delay label carries real signal.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
TS = pa.timestamp("us")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, TS)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_tables(out_dir, seed, sf):
    """Write the ten star-schema/LLM tables at scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    # The engine declares its ANN recall floors on a 2000-vector corpus.
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(2000, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                             rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": list(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord))})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + start_us
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, TS),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", documents(rng, n_docs))
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


def documents(rng, n):
    """Bag-of-words documents; 5% repeat another document plus ' dup'."""
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101)))
             for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n - 1)) % n] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


AIRLINES = ["Alpha Air", "Bravo Airways", "Canyon Jet", "Delta Wing", "EchoFly",
            "Foxtrot Air", "Golf Airlines", "Hotel Air", "IndigoJet", "Juliet Air"]
CITIES = ["Boston, MA", "New York, NY", "Chicago, IL", "Austin, TX", "Denver, CO",
          "Seattle, WA", "Miami, FL", "Atlanta, GA", "Phoenix, AZ", "Nomad"]
STATES = ["MA", "NY", "IL", "TX", "CO", "WA", "FL", "GA", "AZ", "XX"]
PORTS = ["BOS", "JFK", "ORD", "AUS", "DEN", "SEA", "MIA", "ATL", "PHX", "NMD"]
# Mean departure delay (minutes) added per airline, and per month.
AIRLINE_DELAY = np.array([-12, -8, -4, 0, 2, 4, 6, 9, 12, 16], dtype=float)
MONTH_DELAY = np.array([4, 2, 0, -4, -2, 8, 12, 10, -6, -8, -2, 10], dtype=float)


def airline_rows(out_file, seed, rows):
    """Write `rows` airline flights (FIXTURES.md section B) as parquet."""
    rng = np.random.default_rng([seed, 2])
    # frequency-skewed airline choice, as StringIndexer ordering expects
    w = 1.0 / np.arange(1, 11)
    airline = rng.choice(10, rows, p=w / w.sum())
    month = rng.integers(1, 13, rows)
    hour = rng.integers(0, 24, rows)
    minute = rng.integers(0, 60, rows)

    def hhmm(h, m, null_every):
        v = (h * 100 + m).astype(float)
        v[rng.integers(0, null_every, rows) == 0] = np.nan
        return v

    # Delay rises through the day (flights queue behind earlier ones) and
    # with the airline's and month's offsets; noise keeps labels mixed.
    dep_delay = np.round(AIRLINE_DELAY[airline] + MONTH_DELAY[month - 1]
                         + 1.5 * (hour - 12) + rng.normal(0, 15, rows))
    arr_delay = np.round(dep_delay + rng.normal(-2, 8, rows))
    air_time = rng.integers(30, 330, rows).astype(float)
    air_time[rng.integers(0, 60, rows) == 0] = np.nan
    cancelled = rng.integers(0, 50, rows) == 0
    table = pa.table({
        "Year": pa.array(rng.integers(2018, 2023, rows), pa.int32()),
        "Quarter": pa.array((month - 1) // 3 + 1, pa.int32()),
        "Month": pa.array(month, pa.int32()),
        "DayofMonth": pa.array(rng.integers(1, 29, rows), pa.int32()),
        "DayOfWeek": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "Airline": [AIRLINES[i] for i in airline],
        "Origin": list(rng.choice(PORTS, rows)),
        "Dest": list(rng.choice(PORTS, rows)),
        "OriginCityName": list(rng.choice(CITIES, rows)),
        "OriginState": list(rng.choice(STATES, rows)),
        "DestCityName": list(rng.choice(CITIES, rows)),
        "DestState": list(rng.choice(STATES, rows)),
        "Cancelled": cancelled,
        "Diverted": np.zeros(rows, dtype=bool),
        "DepTime": pa.array(hhmm(hour, minute, 50), from_pandas=True),
        "ArrTime": pa.array(hhmm((hour + 2) % 24, minute, 50), from_pandas=True),
        "DepDelay": dep_delay,
        "ArrDelay": arr_delay,
        "AirTime": pa.array(air_time, from_pandas=True),
        "Distance": pa.array(air_time * 7.5 + rng.integers(0, 50, rows),
                             from_pandas=True),
    })
    pq.write_table(table, out_file)
