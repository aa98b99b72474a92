#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes two input sets under an output directory:

  <out>/sf/<table>.parquet
      TPC-H-shaped relational tables plus `events`, with the schemas,
      key ranges and value domains of the sf0.1 test corpus (lineitem
      600k rows, orders 150k, 17 MB on disk). Every column is drawn
      independently, as in that corpus.

  <out>/tc/sequence.json, <out>/tc/<batch>.parquet
      The table_commits operation sequence (append, updateWhere,
      deleteWhere, merge, IncrementalView.maintain, snapshot read) with
      seeded predicate ranges and merge keys, and the batches its
      appends and merges hand in: `orders` rows plus an `o_cents`
      column.

  <out>/datasets/<vendor>/{train,test}.parquet
      Three vendor datasets with the 722-column taxi schema that
      graft.pipeline.VendorPipeline expects: trip_duration (label),
      passenger_count, hour, distance, one-hot uint8 families
      pickup_* (384), dropoff_* (324), weekday_* (7), Q_* (2) and the
      pandas row id __index_level_0__. One vendor is `alitran`.
      A seeded fraction of rows is broken (a one-hot family that does
      not sum to 1, a negative distance, a null label) so the one-hot
      audit and the quarantine gate have non-zero counts to check.

Same seed, same values. Usage:
  python3 gen_data.py --seed N --out DIR --part sf|vendors
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VENDORS = ("alitran", "easy_destiny", "to_my_place_ai")
N_PICKUP, N_DROPOFF = 384, 324
VENDOR_ROWS = 2000  # per vendor: 1600 train + 400 test
SCALE = 0.1  # TPC-H-shaped scale factor of the relational tables

DAY = np.timedelta64(1, "D")


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _dates(rng, lo, hi, n):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi - lo) / DAY) + 1, n)
    return (lo + days * DAY).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng, out):
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_li, n_ev = int(1_500_000 * SCALE), int(6_000_000 * SCALE), int(1_000_000 * SCALE)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(n_cust, dtype=np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(["blue", "cold", "hot", "large", "small", "red", "green", "shiny"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li)})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype(np.int64).astype("timedelta64[us]")
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64), "ts": ts,
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": kinds[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})
    os.makedirs(out, exist_ok=True)
    for name, tab in t.items():
        _write(tab, os.path.join(out, f"{name}.parquet"))
    return t["orders"]


ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


def commits(rng, orders, out):
    """The seeded sequence of one table_commits pass, and its batches."""
    def price(w):
        lo = float(np.rint(1000 + rng.random() * (500000 - w - 1000)))
        return ["o_totalprice", lo, lo + w]
    u1, d1, u2 = price(25000), price(15000), price(40000)
    restated = int(rng.integers(0, 20))
    steps = [
        {"name": "append_a1", "op": "append", "batch": "a1"},
        {"name": "update_1", "op": "update", "ranges": [u1], "eq": [],
         "set": {"o_orderpriority": "'1-URGENT'", "o_cents": "o_cents + 7"}},
        {"name": "delete_1", "op": "delete", "ranges": [d1], "eq": []},
        {"name": "merge_m1", "op": "merge", "batch": "m1", "key": "o_orderkey"},
        {"name": "maintain_1", "op": "maintain"},
        {"name": "append_a2", "op": "append", "batch": "a2"},
        {"name": "update_2", "op": "update", "ranges": [u2], "eq": [["o_orderstatus", "P"]],
         "set": {"o_orderstatus": "'F'", "o_cents": "o_cents - 3"}},
        {"name": "maintain_2", "op": "maintain"},
        {"name": "snapshot_read", "op": "read"},
    ]
    rows = orders.select(ORDER_COLS)
    rows = rows.set_column(ORDER_COLS.index("o_orderdate"), "o_orderdate",
                           rows["o_orderdate"].cast(pa.timestamp("us", tz="UTC")))
    cents = np.rint(rows["o_totalprice"].to_numpy() * 100).astype(np.int64)
    rows = rows.append_column("o_cents", pa.array(cents))
    key = rows["o_orderkey"].to_numpy()
    # merge m1: every 20th key of the first batch re-stated, plus 1500 new keys
    m1 = rows.filter(pa.array(((key < 20000) & (key % 20 == restated))
                              | ((key >= 60000) & (key < 61500))))
    m1 = m1.set_column(ORDER_COLS.index("o_orderstatus"), "o_orderstatus",
                       pa.array(np.full(len(m1), "O")))
    m1 = m1.set_column(len(ORDER_COLS), "o_cents",
                       pa.array(m1["o_cents"].to_numpy() + 13))
    batches = {"a1": rows.filter(pa.array(key < 20000)),
               "a2": rows.filter(pa.array((key >= 20000) & (key < 40000))),
               "m1": m1}
    os.makedirs(out, exist_ok=True)
    for name, tab in batches.items():
        _write(tab, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "sequence.json"), "w") as fh:
        json.dump(steps, fh, indent=1)


def _onehot(rng, n, k, broken):
    """n x k uint8 one-hot rows; rows flagged in `broken` get either no
    hot column or a second one."""
    m = np.zeros((n, k), dtype=np.uint8)
    hot = rng.integers(0, k, n)
    m[np.arange(n), hot] = 1
    idx = np.flatnonzero(broken)
    drop = rng.random(idx.size) < 0.5
    m[idx[drop], hot[idx[drop]]] = 0
    extra = idx[~drop]
    m[extra, (hot[extra] + 1 + rng.integers(0, k - 1, extra.size)) % k] = 1
    return m


def vendor_split(rng, n, coef, row0):
    """One vendor split: the label is linear in the three features plus
    noise, with vendor-specific coefficients."""
    pc = rng.integers(1, 7, n).astype(np.int64)
    hour = rng.integers(0, 24, n).astype(np.float64)
    dist = np.round(rng.gamma(2.0, 1.6, n), 4)
    bad_dist = rng.random(n) < 0.002
    dist[bad_dist] = -dist[bad_dist]
    y = np.round(coef[0] + coef[1] * pc + coef[2] * hour + coef[3] * dist
                 + rng.normal(0.0, 120.0, n), 3)
    label = pa.array(y, mask=rng.random(n) < 0.002)
    cols = {"trip_duration": label, "passenger_count": pc, "hour": hour,
            "distance": dist}
    for prefix, k, rate in (("pickup_", N_PICKUP, 0.004), ("dropoff_", N_DROPOFF, 0.004),
                            ("weekday_", 7, 0.01), ("Q_", 2, 0.01)):
        m = _onehot(rng, n, k, rng.random(n) < rate)
        names = ([f"{prefix}{i + 1}" for i in range(k)] if prefix == "Q_"
                 else [f"{prefix}{i}" for i in range(k)])
        for j, c in enumerate(names):
            cols[c] = m[:, j]
    cols["__index_level_0__"] = np.arange(row0, row0 + n, dtype=np.int64)
    return pa.table(cols)


def vendors(rng, out, rows):
    for i, v in enumerate(VENDORS):
        coef = (300.0 + 40 * i, 8.0 + 3 * i, 4.0 - i, 700.0 + 150 * i)
        d = os.path.join(out, v)
        os.makedirs(d, exist_ok=True)
        n_train = rows * 4 // 5
        _write(vendor_split(rng, n_train, coef, 0), os.path.join(d, "train.parquet"))
        _write(vendor_split(rng, rows - n_train, coef, n_train),
               os.path.join(d, "test.parquet"))


PARTS = ("sf", "vendors")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--part", choices=PARTS, required=True,
                    help="sf: the relational tables and the commit sequence; "
                         "vendors: the vendor datasets")
    a = ap.parse_args()
    generate(a.seed, a.out, a.part)


def generate(seed, out, part):
    if part == "vendors":
        vendors(np.random.default_rng([seed, 2]), os.path.join(out, "datasets"), VENDOR_ROWS)
    else:
        orders = relational(np.random.default_rng([seed, 1]), os.path.join(out, "sf"))
        commits(np.random.default_rng([seed, 3]), orders, os.path.join(out, "tc"))


if __name__ == "__main__":
    main()
