"""Seeded input generators for the benchmark workloads.

Every table and stream file is a pure function of (seed, sizes): the same
seed writes the same rows. The batch tables follow the schema and value
domains of the repository's TPC-H-ish fixtures (FIXTURES.md) so that the
registry queries and their DuckDB oracle SQL apply unchanged.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
NOUN = ["bolt", "widget", "gear", "ring", "plate", "anvil", "rod", "gizmo"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _cents(rng, lo, hi, n):
    """Uniform 2-decimal doubles in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    """Uniform midnight timestamps (microseconds, no zone) in [start, end]."""
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def batch_tables(out, seed, sf):
    """TPC-H-ish star schema at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(1_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (9000 + pk % 1000) / 10.0}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 499999.99, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 104999.99, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)}),
        f"{out}/lineitem.parquet")


RECORD_SCHEMA = pa.schema([
    ("key", pa.string()), ("value", pa.string()), ("topic", pa.string()),
    ("partition", pa.int32()), ("ts", pa.timestamp("us", tz="UTC"))])

T0_US = 1_700_000_000_000_000  # event-time origin of the keyed streams


def zipf_keys(rng, n_keys, n, s=1.1):
    """Key ids in [0, n_keys) with Zipf(s) popularity over a seeded
    permutation, so the hot keys differ from seed to seed."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


def keyed_files(out, seed, n_files, per_file, n_keys, n_values, tombstone_p, zipf_s):
    """`n_files` parquet files of samsa records (key, value, topic,
    partition, ts). Event time rises strictly across and within files, so
    file order is event-time order. Values come from a small per-stream
    domain, so a record inserts, updates or repeats its key's value;
    `tombstone_p` of the records carry a null value (a delete).
    Returns (key ids, value ids with -1 for a tombstone) in file order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = n_files * per_file
    keys = zipf_keys(rng, n_keys, n, zipf_s)
    vals = rng.integers(0, n_values, n)
    vals[rng.random(n) < tombstone_p] = -1
    ts = T0_US + np.arange(n, dtype=np.int64) * 1000
    for f in range(n_files):
        sl = slice(f * per_file, (f + 1) * per_file)
        v = [None if x < 0 else f"v{x}" for x in vals[sl]]
        pq.write_table(pa.table({
            "key": [f"k{k}" for k in keys[sl]],
            "value": pa.array(v, pa.string()),
            "topic": pa.array(["bench"] * per_file, pa.string()),
            "partition": pa.array(np.zeros(per_file, np.int32), pa.int32()),
            "ts": pa.array(ts[sl], pa.timestamp("us", tz="UTC"))},
            schema=RECORD_SCHEMA), f"{out}/f{f:05d}.parquet")
    return keys, vals
