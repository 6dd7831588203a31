#!/usr/bin/env python3
"""Seeded TPC-H-style tables for the saved queries of `bi_reads`.

Writes one parquet file per table under `<out>/<table>.parquet`, with the
schemas the query registry reads (FIXTURES.md B): orders, lineitem and
events, the tables the saved queries scan. Row counts and value domains
follow the sf0.001 shape: 1,500 orders, 6,000 lineitems and 1,000 events
over 30 days. Money and rates carry two decimals, as the registry's
exact-arithmetic oracles assume.

Usage: gen_tables.py --seed N --out DIR

The output is a pure function of the seed.
"""
import argparse
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]

ORDERS, EVENTS = 1500, 1000
# key ranges of the dimension tables the facts point into
CUSTOMERS, PARTS, SUPPLIERS = 150, 200, 10


def money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def day(rng, start, span_days):
    return datetime.datetime.combine(
        start + datetime.timedelta(days=rng.randrange(span_days)),
        datetime.time())


def write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(out, f"{name}.parquet"))


def generate(seed, out):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    no = ORDERS
    odates = [day(rng, datetime.date(1995, 1, 1), 2400) for _ in range(no)]
    write(out, "orders", {
        "o_orderkey": list(range(no)),
        "o_custkey": [rng.randrange(CUSTOMERS) for _ in range(no)],
        "o_orderstatus": [rng.choice("OPF") for _ in range(no)],
        "o_totalprice": [money(rng, 1000, 500000) for _ in range(no)],
        "o_orderdate": odates,
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(no)]},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)]))
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    for o in range(no):
        for ln in range(1, 5):
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(PARTS))
            li["l_suppkey"].append(rng.randrange(SUPPLIERS))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(money(rng, 900, 105000))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("NRA"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odates[o] + datetime.timedelta(
                days=rng.randrange(1, 122)))
    write(out, "lineitem", li, pa.schema([
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
        ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
        ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
        ("l_linestatus", s), ("l_shipdate", ts)]))
    ne = EVENTS
    t0 = datetime.datetime(2024, 1, 1)
    ets = sorted(t0 + datetime.timedelta(microseconds=rng.randrange(
        30 * 86400 * 10**6)) for _ in range(ne))
    write(out, "events", {
        "event_id": list(range(ne)), "ts": ets,
        "user_id": [rng.randrange(15) for _ in range(ne)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(ne)],
        "value": [money(rng, 0, 330) for _ in range(ne)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(ne)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)


if __name__ == "__main__":
    main()
