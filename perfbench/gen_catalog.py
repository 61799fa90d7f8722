#!/usr/bin/env python3
"""Seeded input tables for the `catalog` workload.

Writes region, nation, customer, supplier, part, orders, lineitem and
events as parquet files in the layout of the engine's catalog tables
(the schemas and value ranges of the sf0.01 testdata: a TPC-H-like star
schema plus an event stream), drawn from --seed. documents and
embeddings are copied from perfbench/data: they are the sf0.01 corpus,
whose reference-run oracle fixtures ship with the repository, so every
catalog query keeps an oracle.

Usage: python3 perfbench/gen_catalog.py --seed N --out DIR
"""
import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_EVENTS = 1500, 100, 2000, 15000, 10000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days_after(start, offsets):
    base = np.datetime64(start, "us")
    return base + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed):
    rng = np.random.default_rng(seed)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def table(cols):
        return pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})

    yield "region", table({"r_regionkey": (np.arange(5), i32), "r_name": (REGIONS, s)})
    yield "nation", table({
        "n_nationkey": (np.arange(25), i32),
        "n_name": ([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": (np.arange(25) % 5, i32)})
    yield "customer", table({
        "c_custkey": (np.arange(N_CUSTOMER), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(N_CUSTOMER)], s),
        "c_nationkey": (rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": (money(rng, -999.99, 9999.99, N_CUSTOMER), f64),
        "c_mktsegment": (rng.choice(SEGMENTS, N_CUSTOMER), s)})
    yield "supplier", table({
        "s_suppkey": (np.arange(N_SUPPLIER), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], s),
        "s_nationkey": (rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": (money(rng, -999.99, 9999.99, N_SUPPLIER), f64)})
    yield "part", table({
        "p_partkey": (np.arange(N_PART), i64),
        "p_name": ([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(N_PART)], s),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], s),
        "p_type": (rng.choice(PART_TYPES, N_PART), s),
        "p_size": (rng.integers(1, 51, N_PART), i32),
        "p_retailprice": (np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 1), f64)})

    order_days = rng.integers(0, 2404, N_ORDERS)
    yield "orders", table({
        "o_orderkey": (np.arange(N_ORDERS), i64),
        "o_custkey": (rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": (rng.choice(["F", "O", "P"], N_ORDERS), s),
        "o_totalprice": (money(rng, 1000, 500000, N_ORDERS), f64),
        "o_orderdate": (days_after("1995-01-01", order_days), ts),
        "o_orderpriority": (rng.choice(PRIORITIES, N_ORDERS), s)})

    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(N_ORDERS), lines)
    lineno = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n).astype(float)
    yield "lineitem", table({
        "l_orderkey": (okey, i64),
        "l_partkey": (rng.integers(0, N_PART, n), i64),
        "l_suppkey": (rng.integers(0, N_SUPPLIER, n), i64),
        "l_linenumber": (lineno, i32),
        "l_quantity": (qty, f64),
        "l_extendedprice": (np.round(qty * rng.uniform(900, 2100, n), 2), f64),
        "l_discount": (rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": (rng.choice(["A", "N", "R"], n), s),
        "l_linestatus": (rng.choice(["O", "F"], n), s),
        "l_shipdate": (days_after("1995-01-01", order_days[okey] + rng.integers(1, 122, n)), ts)})

    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    yield "events", table({
        "event_id": (np.arange(N_EVENTS), i64),
        "ts": (np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, 150, N_EVENTS), i64),
        "event_type": (rng.choice(EVENT_TYPES, N_EVENTS), s),
        "value": (money(rng, 0.01, 490.02, N_EVENTS), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], s)})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for name, t in tables(a.seed):
        pq.write_table(t, os.path.join(a.out, f"{name}.parquet"))
    for name in ("documents", "embeddings"):
        shutil.copyfile(os.path.join(HERE, "data", f"{name}.parquet"),
                        os.path.join(a.out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
