"""Seeded input generator: the TPC-H-ish star schema, the events stream,
the documents/embeddings corpus (sf0.1 shapes), and hourly Open-Meteo
payloads for the ELT spine.

Same seed, same bytes. Value domains follow the tables the queries were
written against (two-decimal prices, midnight dates, 31-word vocabulary
with 5% `... dup` near-duplicates, unit-norm clustered embeddings), so the
registered queries and their DuckDB oracles see the shapes they expect.

Usage: python3 perfbench/gen.py <out_dir> <seed> [star|events|corpus|weather ...]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_LINEITEM = 600_000
N_ORDERS = 150_000
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

WORDS = ("query row stream the batch sort value hash filter big data part "
         "column order scan a slow agg key window table merge vector join "
         "spark line small fast group customer").split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000

# the four cities of the reference spine: name, lat, lon
CITIES = [("Warsaw", 52.23, 21.01), ("Berlin", 52.52, 13.41),
          ("London", 51.51, -0.13), ("Paris", 48.85, 2.35)]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def dates(rng, n, span_days, base=EPOCH_1995):
    return base + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def star_schema(rng, out):
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    write(out, "nation", {
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    write(out, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    write(out, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, adj, N_PART),
                                              pick(rng, noun, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    write(out, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(dates(rng, N_ORDERS, 2404), pa.timestamp("us")),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": pick(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": pa.array(dates(rng, N_LINEITEM, 2499) + np.timedelta64(1, "D"),
                               pa.timestamp("us"))})


def events(rng, out):
    gaps = rng.exponential(30 * DAY_US / N_EVENTS, N_EVENTS)
    ts = EPOCH_2024 + np.cumsum(gaps).astype(np.int64) * np.timedelta64(1, "us")
    write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": pick(rng, ["click", "view", "purchase", "signup", "error"],
                           N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})


def corpus(rng, out):
    words = np.asarray(WORDS, dtype=object)
    lens = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    # 5% near-duplicates: another document's text plus a trailing "dup"
    dups = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    ids = np.arange(N_DOCS, dtype=np.int64)
    langs = np.asarray(["en", "de", "es", "fr", "zh"], dtype=object)
    write(out, "documents", {
        "doc_id": ids, "text": texts,
        "lang": langs[rng.choice(5, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def weather(rng, out, cycles=120, window=6):
    """Hourly Open-Meteo payloads, one line per (cycle, city): cycle c is
    fetched at 16:00 + c + `window` hours (so midnight falls in cycle 2) and re-fetches the trailing
    `window` hours (5 of 6 rows re-ingested), 1 in
    8 payloads is ragged (wind array one short), and 1 in 5 cycles revises
    an older hour's temperature (a late correction the upsert must keep)."""
    lines = []
    base = np.datetime64("2025-10-01T16:00")
    truth = rng.normal(12.0, 6.0, (len(CITIES), cycles + window))
    for cyc in range(cycles):
        end = cyc + window  # exclusive hour index of this cycle's window
        fetched = str(base + np.timedelta64(end, "h") + np.timedelta64(5, "m"))
        for ci, (city, lat, lon) in enumerate(CITIES):
            hours = range(end - window, end)
            times = [str(base + np.timedelta64(h, "h"))[:16] for h in hours]
            temps = [round(float(truth[ci, h]), 1) for h in hours]
            if cyc % 5 == 4:
                truth[ci, end - window] += 0.5  # late correction
                temps[0] = round(float(truth[ci, end - window]), 1)
            precs = [round(float(max(0.0, p)), 1) for p in rng.normal(0.3, 0.6, window)]
            winds = [round(float(w), 1) for w in rng.uniform(0.0, 30.0, window)]
            if rng.integers(0, 8) == 0:
                winds = winds[:-1]
            lines.append(json.dumps({
                "cycle": cyc, "city": city, "_ingested_at": fetched.replace("T", " ") + ":00",
                "latitude": lat, "longitude": lon,
                "timezone": "Europe/Berlin",
                "hourly": {"time": times, "temperature_2m": temps,
                           "precipitation": precs, "wind_speed_10m": winds}}))
    with open(os.path.join(out, "weather_payloads.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")


GROUPS = {"star": star_schema, "events": events, "corpus": corpus, "weather": weather}


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    for i, (name, make) in enumerate(GROUPS.items()):
        if name in (sys.argv[3:] or GROUPS):
            # each group draws from its own stream, so a group's bytes do
            # not depend on which other groups are generated
            make(np.random.default_rng([seed, i]), out)


if __name__ == "__main__":
    main()
