"""Seeded input generator for the perfbench workloads.

The inputs are drawn from real data: ``data/orders_pool.parquet`` (50,000
orders of the sf0.1 testdata table) and ``data/customer_pool.parquet``
(its 15,000 customers); ``data/make_pool.py`` shows how they were cut.
``numpy.random.default_rng(seed)`` picks which orders form the snapshot and
the deltas, the row order of every file, the changed values, the
correction keys and the malformed-cell positions. Every size is fixed, as
is the number of buckets the correction touches, so two seeds give inputs
of the same shape and the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

POOL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Fixed for every seed. The snapshot is 20,000 of the 150,000 sf0.1 orders:
# a run has to start a JVM, warm it and measure a cycle of five loads and
# four queries inside the benchmark's per-run time budget.
ORDERS = 20_000
APPEND_NEW = 1_000  # 5%: keys not yet in the table
UPSERT_CHANGED = 2_000  # 10%: existing keys with new values
UPSERT_NEW = 1_000  # 5%: keys not yet in the table
UPSERT_DUPES = 20  # keys repeated inside the upsert batch
CORRECTION_CHANGED = 6  # the <=8-row correction: changed existing rows ...
CORRECTION_NEW = 2  # ... and new keys, each key in a bucket of its own
NUM_BUCKETS = 16  # of the bucketed table the correction is loaded into
BAD_CELL_SHARE = 0.001

ORDER_COLUMNS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]
# Declared frictionless schema of the orders resources; o_orderkey is the
# upsert key (``unique`` constraint).
ORDERS_DESCRIPTOR = {
    "fields": [
        {"name": "o_orderkey", "type": "integer",
         "constraints": {"required": True, "unique": True}},
        {"name": "o_custkey", "type": "integer"},
        {"name": "o_orderstatus", "type": "string"},
        {"name": "o_totalprice", "type": "number"},
        {"name": "o_orderdate", "type": "date"},
        {"name": "o_orderpriority", "type": "string"},
    ]
}
# Resources loaded by ``pipeline.run``: name -> frame key
PARQUET_RESOURCES = {
    "orders.parquet": "snapshot",
    "append.parquet": "append",
    "upsert.parquet": "upsert",
    "correction.parquet": "correction",
}


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def bucket_of(key: int) -> int:
    """Bucket of an integer key: ``pmod(xxhash64(key), NUM_BUCKETS)`` as
    the bucketed table computes it (Spark's XXH64 of a long, seed 42)."""
    h = (42 + _P5 + 8) & _M64
    h ^= _rotl((key & _M64) * _P2 & _M64, 31) * _P1 & _M64
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h % NUM_BUCKETS


def _in_new_buckets(keys, candidates, k: int, used: set[int]) -> list[int]:
    """The first ``k`` candidates (positions into ``keys``) whose key lands
    in a bucket not in ``used``. Fixing how many buckets the correction
    touches keeps its rewrite the same size for every seed."""
    out = []
    for i in candidates:
        b = bucket_of(int(keys[i]))
        if b not in used:
            used.add(b)
            out.append(i)
            if len(out) == k:
                return out
    raise ValueError("not enough keys in distinct buckets")


def _pool(name: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(POOL_DIR, f"{name}_pool.parquet")).to_pandas()


def _shuffled(rng, df: pd.DataFrame) -> pd.DataFrame:
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def _changed(rng, rows: pd.DataFrame) -> pd.DataFrame:
    """The same keys with a new price and status, as a source correcting
    its records would send them."""
    out = rows.copy()
    out["o_totalprice"] = np.round(
        out["o_totalprice"].to_numpy() + np.round(rng.uniform(1.0, 500.0, len(out)), 2), 2
    )
    out["o_orderstatus"] = rng.choice(["F", "O", "P"], len(out))
    return out


def _as_resource(orders: pd.DataFrame) -> pd.DataFrame:
    """The orders columns as the resources carry them: the order date is a
    calendar date (the declared ``date`` type)."""
    out = orders[ORDER_COLUMNS].reset_index(drop=True).copy()
    out["o_orderdate"] = out["o_orderdate"].dt.date
    return out


def make_frames(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    """The snapshot (in seeded row order), the three deltas, and the
    snapshot in the pool's own types for the query tables."""
    pool = _pool("orders")
    order = rng.permutation(len(pool))
    cuts = np.cumsum([ORDERS, APPEND_NEW, UPSERT_NEW])
    snap_rows, append_rows, new_rows, rest = np.split(order, cuts)
    pool_keys = pool["o_orderkey"].to_numpy()
    used: set[int] = set()
    corr_new_rows = _in_new_buckets(pool_keys, rest, CORRECTION_NEW, used)
    raw = pool.iloc[snap_rows].reset_index(drop=True)
    base = _as_resource(raw)
    changed = _changed(rng, base.iloc[rng.choice(ORDERS, UPSERT_CHANGED, replace=False)])
    batch = pd.concat([changed, _as_resource(pool.iloc[new_rows])], ignore_index=True)
    dupes = batch.iloc[rng.choice(len(batch), UPSERT_DUPES, replace=False)].copy()
    dupes["o_totalprice"] = np.round(dupes["o_totalprice"].to_numpy() + 0.5, 2)
    corr_changed = _in_new_buckets(base["o_orderkey"].to_numpy(), rng.permutation(ORDERS),
                                   CORRECTION_CHANGED, used)
    correction = pd.concat([
        _changed(rng, base.iloc[corr_changed]),
        _as_resource(pool.iloc[corr_new_rows]),
    ], ignore_index=True)
    return {
        "snapshot": base,
        "append": _as_resource(pool.iloc[append_rows]),
        "upsert": _shuffled(rng, pd.concat([batch, dupes], ignore_index=True)),
        "correction": _shuffled(rng, correction),
        "orders_table": raw,
        "customer_table": _shuffled(rng, _pool("customer")),
    }


def _csv_text(df: pd.DataFrame) -> str:
    return df.to_csv(index=False, float_format="%.2f")


def _corrupt(rng: np.random.Generator, text: str, n_rows: int) -> str:
    """Replace ~BAD_CELL_SHARE of the o_totalprice cells with text that is
    not a number, so validation must reject the resource."""
    lines = text.splitlines()
    bad = rng.choice(np.arange(1, n_rows + 1), max(1, int(n_rows * BAD_CELL_SHARE)), replace=False)
    col = ORDER_COLUMNS.index("o_totalprice")
    for i in bad:
        cells = lines[i].split(",")
        cells[col] = cells[col] + "x"
        lines[i] = ",".join(cells)
    return "\n".join(lines) + "\n"


def _record(path: str, rows: int) -> dict:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return {"path": path, "rows": rows, "bytes": os.path.getsize(path), "sha256": h.hexdigest()}


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def generate(seed: int, out_dir: str) -> dict:
    """Write every input for ``seed`` under ``out_dir``.

    Returns ``{"resources_dir": ..., "tables_dir": ..., "inputs": {name:
    {path, rows, bytes, sha256}}, "frames": {...}}``; the frames are what
    the correctness checks compare against. ``tables_dir`` holds
    ``orders.parquet`` and ``customer.parquet`` in the layout the query
    registry reads."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    inputs: dict[str, dict] = {}
    frames = make_frames(rng)
    snap = frames["snapshot"]
    text = _csv_text(snap)
    for name, body in (
        ("orders.csv.gz", text),
        ("orders_bad.csv.gz", _corrupt(rng, text, len(snap))),
    ):
        path = os.path.join(out_dir, name)
        # mtime=0: the gzip header carries no timestamp, so bytes depend
        # on the seed alone
        with gzip.GzipFile(path, "wb", compresslevel=6, mtime=0) as fh:
            fh.write(body.encode())
        inputs[name] = _record(path, len(snap))
    for name, key in PARQUET_RESOURCES.items():
        path = os.path.join(out_dir, name)
        _write_parquet(frames[key], path)
        inputs[name] = _record(path, len(frames[key]))
    tables_dir = os.path.join(out_dir, "tables")
    os.makedirs(tables_dir)
    for table in ("orders", "customer"):
        path = os.path.join(tables_dir, f"{table}.parquet")
        _write_parquet(frames[f"{table}_table"], path)
        inputs[f"tables/{table}.parquet"] = _record(path, len(frames[f"{table}_table"]))
    return {"resources_dir": out_dir, "tables_dir": tables_dir, "inputs": inputs,
            "frames": frames}


def job_ts(op_index: int) -> dt.datetime:
    """Deterministic ``job_ts`` for the ``op_index``-th load of a run, so
    the expected ``_updated_at`` values are known in advance."""
    return dt.datetime(2024, 6, 1) + dt.timedelta(minutes=op_index)
