"""Seeded input generation for the graft benchmark.

Every table is a pure function of the seed: the same seed writes the same
rows. The star tables follow the shape of the TPC-H-like testdata the
oracle gates run on (same columns, types, domains and single-row-group
files), so every `SparkEntry.queries` lane used here reads them unchanged.
"""
import datetime
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH = datetime.datetime(1970, 1, 1)


def _days(start, end, n, rng):
    d0 = (start - EPOCH).days
    d1 = (end - EPOCH).days
    us = rng.integers(d0, d1 + 1, n).astype("int64") * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")
    return os.path.getsize(path)


def _choice(values, n, rng):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)],
                    type=pa.string())


def star_tables(seed, scale=1.0):
    """The star schema at sf0.1 x `scale` (lineitem = 600k x scale rows)."""
    rng = np.random.default_rng([seed, 1])
    n_li = int(600_000 * scale)
    n_ord = int(150_000 * scale)
    n_cust = int(15_000 * scale)
    n_part = int(20_000 * scale)
    n_supp = max(10, int(1_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": _choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                 "HOUSEHOLD", "MACHINERY"], n_cust, rng)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
    names = [f"{a} {b}" for a in adj for b in noun]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": _choice(names, n_part, rng),
        "p_brand": _choice([f"Brand#{i}" for i in range(1, 26)], n_part, rng),
        "p_type": _choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                           "STANDARD"], n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": _choice(["O", "P", "F"], n_ord, rng),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(datetime.datetime(1995, 1, 1),
                             datetime.datetime(2001, 8, 1), n_ord, rng),
        "o_orderpriority": _choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                    "4-NOT SPECIFIED", "5-LOW"], n_ord, rng)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(["A", "N", "R"], n_li, rng),
        "l_linestatus": _choice(["F", "O"], n_li, rng),
        "l_shipdate": _days(datetime.datetime(1995, 1, 2),
                            datetime.datetime(2001, 11, 4), n_li, rng)})
    return t


def _write_parts(table, path, files):
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    return sum(_write(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")
               for i in range(files) if i * step < table.num_rows)


def replicate10(tables):
    """The 10x replica: in the star tables, replica r maps every join key k
    to 10k + r, so fan-outs and group counts scale as a larger generation
    would."""
    keyed = {"lineitem": ["l_orderkey"], "orders": ["o_orderkey", "o_custkey"],
             "customer": ["c_custkey"]}
    out = {}
    for name, keys in keyed.items():
        t = tables[name]
        out[name] = pa.concat_tables(
            pa.Table.from_arrays(
                [pc.add(pc.multiply(t[c], 10), r) if c in keys else t[c]
                 for c in t.column_names], names=t.column_names)
            for r in range(10))
    for name in ("nation", "region"):
        out[name] = tables[name]
    return out


def write_star(seed, out_dir, scale, x10_dir):
    """Writes the star tables at sf0.1 x `scale`, and their 10x replica as
    multi-file tables under `x10_dir`. Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, scale)
    size = sum(_write(t, f"{out_dir}/{n}.parquet") for n, t in tables.items())
    size += sum(_write_parts(t, f"{x10_dir}/{n}.parquet", 4)
                for n, t in replicate10(tables).items())
    return size


# explore: one wide fact table plus two dimension tables. `cat` and
# `dcat` are small-domain integer codes the session categorizes (dense
# kernels); `key` and `dkey` are their plain-key counterparts (hash
# aggregate and broadcast hash join).
EXPLORE_CATS = 16
EXPLORE_DCATS = 1000
EXPLORE_DKEYS = 100_000


def _explore_part(seed, i, n, out_dir):
    rng = np.random.default_rng([seed, 2, i])
    x = rng.standard_normal(n)
    cat = rng.integers(0, EXPLORE_CATS, n).astype("int32")
    tbl = pa.table({
        "x": x,
        "y": 0.5 * x + rng.standard_normal(n),
        "t": rng.uniform(0.0, 100.0, n),
        "cat": pa.array(cat),
        "key": pa.array(rng.integers(0, 5_000, n).astype("int64")),
        "dcat": pa.array(rng.integers(0, EXPLORE_DCATS, n).astype("int32")),
        "dkey": pa.array(rng.integers(0, EXPLORE_DKEYS, n).astype("int64"))})
    return _write(tbl, f"{out_dir}/fact.parquet/part-{i:03d}.parquet")


def write_explore(seed, out_dir, rows, files=8):
    os.makedirs(f"{out_dir}/fact.parquet", exist_ok=True)
    per = [rows // files + (1 if i < rows % files else 0) for i in range(files)]
    with ThreadPoolExecutor(4) as pool:
        sizes = list(pool.map(lambda a: _explore_part(seed, *a, out_dir),
                              [(i, n) for i, n in enumerate(per)]))
    rng = np.random.default_rng([seed, 3])
    dim_c = pa.table({
        "dcat": pa.array(np.arange(EXPLORE_DCATS, dtype="int32")),
        "w": np.round(rng.uniform(0, 10, EXPLORE_DCATS), 3)})
    dim_k = pa.table({
        "dkey": pa.array(np.arange(EXPLORE_DKEYS, dtype="int64")),
        "w": np.round(rng.uniform(0, 10, EXPLORE_DKEYS), 3)})
    return (sum(sizes) + _write(dim_c, f"{out_dir}/dim_cat.parquet")
            + _write(dim_k, f"{out_dir}/dim_key.parquet"))
