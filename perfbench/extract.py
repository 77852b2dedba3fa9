"""Write the benchmark's base tables to `data/`: a fixed subset of the
repository's TPC-H-like fixtures at sf0.01 (see TESTDATA.md).

    python3 perfbench/extract.py <directory of the sf0.01 fixtures>

It keeps region and nation whole, the first CUSTOMERS customers by key,
and every order of those customers. The benchmark reads only the files
this writes, so it runs where the fixtures are not; rerunning it on the
same fixtures writes the same rows.
"""
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

CUSTOMERS = 250
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def extract(fixtures, out=DATA):
    read = lambda name: pq.read_table(os.path.join(fixtures, f"{name}.parquet")).replace_schema_metadata(None)
    customer = read("customer").sort_by("c_custkey").slice(0, CUSTOMERS)
    orders = read("orders")
    orders = orders.filter(pc.is_in(orders["o_custkey"], customer["c_custkey"])).sort_by("o_orderkey")
    os.makedirs(out, exist_ok=True)
    for name, table in [("region", read("region").sort_by("r_regionkey")),
                        ("nation", read("nation").sort_by("n_nationkey")),
                        ("customer", customer), ("orders", orders)]:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        print(f"{name}: {table.num_rows} rows")


if __name__ == "__main__":
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit(__doc__)
    extract(sys.argv[1])
