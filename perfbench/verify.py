"""Output checks of the benchmark, run after the workload JVM exits.

Each check compares what graft produced against an independent
computation over the same generated inputs and returns one failure
string per mismatch:

  every workload  operations that threw, and operations whose result
                  differs between passes over the same inputs;
  vendor_dag      pipe_vendor* rows against VendorPipeline.oracles, and
                  the gated per-vendor DAG (quarantine counts, failed
                  expectations, model coefficients, test metrics)
                  against a numpy recomputation;
  table_commits   the final table against a DuckDB replay of the
                  generated operation sequence over the generated
                  batches; the maintained view and the final
                  snapshot read against a recompute over the table;
                  each analytics query's rows against its module's
                  `oracles` SQL run by DuckDB (the scripts/selfcheck.py
                  compare).
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        t = str(df[c].dtype)
        if t.startswith("datetime64") and getattr(df[c].dt, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            t = str(df[c].dtype)
        if t.startswith(("datetime", "object", "string")):
            df[c] = df[c].astype(str)
        elif t in ("uint8", "int8", "int16", "int32", "uint32", "uint64", "bool"):
            df[c] = df[c].astype("int64")
        elif t == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same(got, exp):
    """Equal up to float summation order (values are rounded to 4 dp
    on both sides, so a rounding-boundary flip moves one unit)."""
    got, exp = norm(got), norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, rtol=1e-6, atol=1.01e-4)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def ops(res):
    """Failed operations and results that differ between passes."""
    out = [f"{o['name']} (pass {o['pass']}) threw" for o in res["ops"] if not o["ok"]]
    last = {}
    for o in res["ops"]:
        if o["ok"] and o["digest"]:
            last.setdefault(o["name"], set()).add(o["digest"])
    out += [f"{n}: results differ between passes" for n, d in last.items() if len(d) > 1]
    return out


def oracle_queries(con, work):
    with open(os.path.join(work, "out", "oracles.json")) as fh:
        oracles = json.load(fh)
    out = []
    for name, sql in oracles.items():
        if not glob.glob(os.path.join(work, "out", "rows", name, "*.parquet")):
            out.append(f"{name}: no output")
            continue
        err = same(pd.read_parquet(os.path.join(work, "out", "rows", name)), con.execute(sql).fetchdf())
        if err:
            out.append(f"{name}: {err}")
    return out


def gated_expected(data, vendor):
    """numpy recomputation of VendorDag's per-vendor gated DAG."""
    df = pd.read_parquet(os.path.join(data, "datasets", vendor, "train.parquet"))
    wk = df[[f"weekday_{i}" for i in range(7)]].astype(int).sum(axis=1)
    q = df["Q_1"].astype(int) + df["Q_2"].astype(int)
    y, dist, pc = df["trip_duration"], df["distance"], df["passenger_count"]
    viol = {
        "not_null": y.isna(),
        "distance": dist.notna() & ((dist < 0) | (dist > 1000)),
        "passenger_count": pc.notna() & ((pc < 1) | (pc > 9)),
        "weekday": (wk < 1) | (wk > 1),
        "quarter": (q < 1) | (q > 1),
    }
    bad = np.zeros(len(df), dtype=bool)
    for v in viol.values():
        bad |= v.to_numpy()
    clean = df[~bad].copy()
    for c in ("hour", "distance"):
        clean[c + "_z"] = (clean[c] - clean[c].mean()) / clean[c].std(ddof=1)
    test_mask = clean["__index_level_0__"] % 5 == 0
    train, test = clean[~test_mask], clean[test_mask]
    xs = ["passenger_count", "hour_z", "distance_z"]
    x = train[xs].to_numpy(float)
    yt = train["trip_duration"].to_numpy(float)
    xc, yc = x - x.mean(axis=0), yt - yt.mean()
    slopes = np.linalg.solve(xc.T @ xc / len(x), xc.T @ yc / len(x))
    icept = yt.mean() - slopes @ x.mean(axis=0)
    e = test["trip_duration"].to_numpy(float) - (icept + test[xs].to_numpy(float) @ slopes)
    ytest = test["trip_duration"].to_numpy(float)
    return {
        "intercept": icept, "b_pc": slopes[0], "b_hour": slopes[1], "b_dist": slopes[2],
        "rmse": np.sqrt(np.mean(e * e)), "mae": np.mean(np.abs(e)),
        "r2": 1.0 - np.sum(e * e) / (np.var(ytest) * len(ytest)),
        "n_quarantined": int(bad.sum()),
        "failed_expectations": int(sum(v.any() for v in viol.values())),
    }


def vendor_dag(data, work):
    out = oracle_queries(duckdb.connect(), work)
    got = pd.read_parquet(os.path.join(work, "out", "gated")).set_index("vendor")
    for vendor in sorted(os.listdir(os.path.join(data, "datasets"))):
        if vendor not in got.index:
            out.append(f"gated_{vendor}: no output")
            continue
        for k, v in gated_expected(data, vendor).items():
            g = got.loc[vendor, k]
            if not np.isclose(g, v, rtol=1e-6, atol=1e-9):
                out.append(f"gated_{vendor}.{k}: {g} vs {v}")
    return out


def table_commits(data, work):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/sf/{t}.parquet')")
    out = oracle_queries(con, work)
    with open(os.path.join(data, "tc", "sequence.json")) as fh:
        steps = json.load(fh)
    batch = lambda b: f"read_parquet('{data}/tc/{b}.parquet')"
    con.execute(f"CREATE TABLE t AS SELECT * FROM {batch('a1')} LIMIT 0")

    def where(s):
        conds = [f"{c} >= {lo} AND {c} <= {hi}" for c, lo, hi in s["ranges"]]
        conds += [f"{c} = '{v}'" for c, v in s["eq"]]
        return " AND ".join(conds)
    for s in steps:
        if s["op"] == "append":
            con.execute(f"INSERT INTO t SELECT * FROM {batch(s['batch'])}")
        elif s["op"] == "merge":
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {batch(s['batch'])})")
            con.execute(f"INSERT INTO t SELECT * FROM {batch(s['batch'])}")
        elif s["op"] == "update":
            sets = ", ".join(f"{c} = {e}" for c, e in s["set"].items())
            con.execute(f"UPDATE t SET {sets} WHERE {where(s)}")
        elif s["op"] == "delete":
            con.execute(f"DELETE FROM t WHERE {where(s)}")
    final = pd.read_parquet(os.path.join(work, "out", "final"))
    err = same(final, con.execute("SELECT * FROM t").fetchdf())
    if err:
        out.append(f"final table vs replay: {err}")
    con.register("final", final)
    agg = ("SELECT o_orderstatus, count(*) AS {n}, sum(o_cents) AS {s} "
           "FROM final GROUP BY o_orderstatus")
    err = same(pd.read_parquet(os.path.join(work, "out", "view")),
               con.execute(agg.format(n="n", s="s")).fetchdf())
    if err:
        out.append(f"view vs recompute: {err}")
    err = same(pd.read_parquet(os.path.join(work, "out", "rows", "snapshot_read")),
               con.execute(agg.format(n="n", s="cents")).fetchdf())
    if err:
        out.append(f"snapshot read vs recompute: {err}")
    return out


def check(workload, res, data, work):
    try:
        return ops(res) + globals()[workload](data, work)
    except Exception as e:  # a missing or unreadable output is a failure too
        return ops(res) + [f"{workload} check could not run: {e!r}"]
