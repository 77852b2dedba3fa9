"""Seeded input generator for the pipeline benchmark.

The base content is `data/`: region, nation, customer and orders rows
taken from the repository's TPC-H-like fixtures at sf0.01 by
`extract.py`. A workload takes the first customers by key and, for the
orders database, all their orders. The workload seed only re-labels
every primary key with a seeded permutation of the table's key values
(foreign keys follow) and shuffles row order, so row counts and tree
structure are the same for every seed, and the same seed gives
byte-identical parquet files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# table -> (primary key, {foreign key column: referenced table}),
# referenced tables first
KEYS = {
    "region": ("r_regionkey", {}),
    "nation": ("n_nationkey", {"n_regionkey": "region"}),
    "customer": ("c_custkey", {"c_nationkey": "nation"}),
    "orders": ("o_orderkey", {"o_custkey": "customer"}),
}


def base_tables(customers, orders):
    """The seed-independent content: region and nation whole, the first
    `customers` customers by key and, if `orders`, every order of those
    customers."""
    def read(name):
        t = pq.read_table(os.path.join(DATA, f"{name}.parquet")).sort_by(KEYS[name][0])
        return {c: t[c].to_numpy() for c in t.column_names}

    tables = {"region": read("region"), "nation": read("nation")}
    tables["customer"] = {c: v[:customers] for c, v in read("customer").items()}
    if len(tables["customer"]["c_custkey"]) != customers:
        raise ValueError(f"{DATA} holds fewer than {customers} customers")
    if orders:
        cols = read("orders")
        keep = np.isin(cols["o_custkey"], tables["customer"]["c_custkey"])
        tables["orders"] = {c: v[keep] for c, v in cols.items()}
    return tables


def relabel(tables, seed):
    """Map every primary key through a seeded permutation of its table's
    key values, rewrite the foreign keys to match, and put the rows in a
    seeded order."""
    rng = np.random.default_rng(seed)
    keys, images = {}, {}
    for name in tables:  # KEYS order: referenced tables come first
        pk, fks = KEYS[name]
        cols = dict(tables[name])
        keys[name] = np.sort(cols[pk])
        images[name] = rng.permutation(keys[name])
        for col, ref in [(pk, name), *fks.items()]:
            cols[col] = images[ref][np.searchsorted(keys[ref], cols[col])]
        order = rng.permutation(len(cols[pk]))
        tables[name] = {c: v[order] for c, v in cols.items()}
    return tables


def generate(out_dir, customers, orders, seed):
    """Write one parquet file per table under `out_dir`; return the tables."""
    tables = relabel(base_tables(customers, orders), seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return tables
