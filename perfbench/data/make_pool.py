"""Extract the benchmark's real-data pools from the sf0.1 testdata tables.

    python3 perfbench/data/make_pool.py <dir holding sf0.1 orders.parquet and customer.parquet>

Writes ``orders_pool.parquet`` (a fixed random 50,000 of the 150,000 sf0.1
orders, every column) and ``customer_pool.parquet`` (all 15,000 sf0.1
customers) next to this file. The benchmark's generator draws each run's
inputs from these pools with the run's seed; the pools themselves do not
change between runs, so they are committed and this script is only needed
to rebuild them.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

ORDERS_POOL = 50_000
HERE = os.path.dirname(os.path.abspath(__file__))


def main(sf_dir: str) -> None:
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet")).replace_schema_metadata()
    pick = np.sort(np.random.default_rng(0).choice(orders.num_rows, ORDERS_POOL, replace=False))
    orders = orders.take(pick).sort_by("o_orderkey")
    customer = pq.read_table(os.path.join(sf_dir, "customer.parquet")).replace_schema_metadata()
    customer = customer.sort_by("c_custkey")
    for name, table in (("orders_pool", orders), ("customer_pool", customer)):
        pq.write_table(table, os.path.join(HERE, f"{name}.parquet"),
                       compression="zstd", compression_level=9)


if __name__ == "__main__":
    main(sys.argv[1])
