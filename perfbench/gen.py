"""Seeded input generators for the benchmark.

Two generators, both pure functions of (seed, size):

* ``tables`` writes the ten parquet tables the declared queries read
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the schemas and value distributions FIXTURES.md
  documents for the test tables: a TPC-H-shaped star schema, a Poisson
  event stream with ``{"k": n}`` JSON props, a 30-word-vocabulary document
  corpus with 5% appended-" dup" near-duplicates, and unit-norm 64-d float
  embeddings with ten random labels.
* ``taxi`` writes one monthly yellow-taxi ``.csv.gz`` (``tpep_*`` timestamp
  strings, ~10% zero and ~2% null ``passenger_count``) plus the same rows
  split into fixed-size chunk files, and returns the counts the ingest
  checks compare against.

Row counts scale like the test tables: ``sf`` 0.01 gives 60,000 lineitems.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = "small red hot old large blue cold new".split()
NOUN = "ring widget bolt plate rod gizmo gear anvil".split()


def _ts(days0, day_offsets):
    base = np.datetime64(days0, "D")
    return (base + day_offsets.astype("timedelta64[D]")).astype("datetime64[ms]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(out, seed, sf):
    """Write the ten query tables for ``sf`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                              rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line))})

    # events: a Poisson arrival process over January 2024, microsecond ts
    gaps = rng.exponential(30 * 86400 / n_evt, n_evt)
    secs = np.minimum(np.cumsum(gaps), 30 * 86400 - 1)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        (secs * 1e6).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101)))
             for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def taxi(out, seed, rows, chunk_rows):
    """Write ``yellow_tripdata_2021-01.csv.gz`` and ``chunks/part-*.csv``
    (the same rows, ``chunk_rows`` per file) under ``out``; return counts."""
    os.makedirs(os.path.join(out, "chunks"), exist_ok=True)
    rng = np.random.default_rng(seed)
    start = np.datetime64("2021-01-01T00:00:00", "s")
    pick = start + rng.integers(0, 31 * 86400, rows).astype("timedelta64[s]")
    drop = pick + rng.integers(60, 3600, rows).astype("timedelta64[s]")

    def stamp(t):
        return np.char.replace(np.datetime_as_string(t, unit="s"), "T", " ")

    u = rng.random(rows)
    pax = rng.integers(1, 7, rows)
    pax[u < 0.10] = 0
    pax_null = (u >= 0.10) & (u < 0.12)
    fare = np.round(rng.uniform(2.5, 80.0, rows), 2)
    tip = np.round(fare * rng.uniform(0.0, 0.3, rows), 2)
    table = pa.table({
        "VendorID": rng.integers(1, 3, rows),
        "tpep_pickup_datetime": stamp(pick),
        "tpep_dropoff_datetime": stamp(drop),
        "passenger_count": pa.array(pax, mask=pax_null),
        "trip_distance": np.round(rng.exponential(3.0, rows), 2),
        "RatecodeID": rng.integers(1, 7, rows),
        "store_and_fwd_flag": rng.choice(["N", "Y"], rows, p=[0.99, 0.01]),
        "PULocationID": rng.integers(1, 266, rows),
        "DOLocationID": rng.integers(1, 266, rows),
        "payment_type": rng.integers(1, 5, rows),
        "fare_amount": fare,
        "extra": rng.choice([0.0, 0.5, 1.0, 2.5], rows),
        "mta_tax": np.full(rows, 0.5),
        "tip_amount": tip,
        "tolls_amount": rng.choice([0.0, 6.12], rows, p=[0.95, 0.05]),
        "improvement_surcharge": np.full(rows, 0.3),
        "total_amount": np.round(fare + tip + 0.8, 2),
        "congestion_surcharge": rng.choice([0.0, 2.5], rows)})
    opts = pacsv.WriteOptions(quoting_style="needed")
    month = os.path.join(out, "yellow_tripdata_2021-01.csv.gz")
    with pa.CompressedOutputStream(month, "gzip") as f:
        pacsv.write_csv(table, f, opts)
    for i, lo in enumerate(range(0, rows, chunk_rows)):
        pacsv.write_csv(table.slice(lo, chunk_rows),
                        os.path.join(out, "chunks", f"part-{i:04d}.csv"), opts)
    zeros = int((pax == 0).sum())
    counts = {"rows": rows, "zero_passengers": zeros,
              "null_passengers": int(pax_null.sum()), "kept": rows - zeros,
              "chunk_rows": chunk_rows, "file_bytes": os.path.getsize(month)}
    with open(os.path.join(out, "counts.json"), "w") as f:
        json.dump(counts, f)
    return counts
