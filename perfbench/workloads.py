"""The benchmark's workloads: one closed-loop client issuing a fixed
sequence of operations (a *cycle*) through ``aircan_spark``'s public API,
plus the correctness check each run ends with.

``ingest_fresh``: the first-load path every new resource pays. One cycle is
an overwrite from a gzip CSV with a declared schema, ``validate=True`` and
an ordered single-file CSV export. Time goes to sources (the single-task
gzip read, read twice by the validation gate), validate, rownum, table and
export; there is no merge. The check also loads a copy with malformed cells,
which must be refused and leave the committed version readable.

``incremental_merge``: the recurring overwrite/append/upsert lifecycle,
writes beside reads. One cycle loads a flat table (overwrite from a parquet
snapshot, append of 5% new keys, upsert of a 15% delta with changed, new
and repeated keys), then an overwrite and an 8-row correction upsert on a
16-bucket table, where the correction should rewrite only the buckets it
touches, then reads: four registry queries over the snapshot, each rebuilt with its ``fn()`` and run into a
``noop`` sink. Time goes to table, upsert, bucketed, the max_id/rownum
offset path and the queries; sources does little (parquet, no validation,
no export). Each cycle starts with overwrites, so the tables are the same
size in every cycle.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd

from perfbench import gen

KEYS = ["o_orderkey"]
NUM_BUCKETS = gen.NUM_BUCKETS
# Oracled registry queries that read only the orders and customer tables;
# q02/q04 number rows with ``order_by``, ext_levene persists frames.
QUERY_KEYS = ("q02_row_number", "q03_max_coalesce", "q04_offset_continuation", "ext_levene")


def _model_overwrite(src: pd.DataFrame, ts: dt.datetime) -> pd.DataFrame:
    out = src.reset_index(drop=True).copy()
    out.insert(0, "_id", range(1, len(out) + 1))
    out["_updated_at"] = ts
    return out


def _model_append(table: pd.DataFrame, src: pd.DataFrame, ts: dt.datetime) -> pd.DataFrame:
    """New rows numbered from MAX(_id)+1 in file order."""
    add = _model_overwrite(src, ts)
    add["_id"] += int(table["_id"].max())
    return pd.concat([table, add[table.columns]], ignore_index=True)


def _model_upsert(table: pd.DataFrame, stage: pd.DataFrame, ts: dt.datetime) -> pd.DataFrame:
    """MERGE semantics written out independently of the engine: first
    stage row per key (file order) wins; matched rows keep ``_id`` and take
    the stage values only when some value differs (then ``_updated_at`` is
    bumped); new keys are numbered from MAX(_id)+1 in key order."""
    stage = stage.drop_duplicates(KEYS, keep="first").set_index(KEYS[0])
    out = table.set_index(KEYS[0]).copy()
    data_cols = list(stage.columns)
    matched = stage.index.intersection(out.index)
    old = out.loc[matched, data_cols]
    new = stage.loc[matched, data_cols]
    changed = ~((old == new) | (old.isna() & new.isna())).all(axis=1)
    idx = changed[changed].index
    out.loc[idx, data_cols] = new.loc[idx]
    out.loc[idx, "_updated_at"] = ts
    ins = stage.loc[stage.index.difference(out.index)].sort_index()
    start = int(out["_id"].max()) + 1
    ins = ins.assign(_id=range(start, start + len(ins)), _updated_at=ts)
    return pd.concat([out, ins[out.columns]]).reset_index()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = ["_id", *gen.ORDER_COLUMNS, "_updated_at"]
    out = df[cols].copy()
    out["o_orderdate"] = out["o_orderdate"].astype(str)
    out["_updated_at"] = pd.to_datetime(out["_updated_at"]).dt.strftime("%Y-%m-%dT%H:%M:%S")
    for c in ("_id", "o_orderkey", "o_custkey"):
        out[c] = out[c].astype("int64")
    out["o_totalprice"] = out["o_totalprice"].astype("float64")
    return out.sort_values("o_orderkey").reset_index(drop=True)


def _diff(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got, want = _canon(got), _canon(want)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = [c for c in got.columns if not got[c].equals(want[c])]
    return [f"{name}: column(s) {bad} differ from the independent merge"] if bad else []


def _oracle_diff(name: str, got_raw: pd.DataFrame, want_raw: pd.DataFrame) -> list[str]:
    """The comparison of ``tests/test_oracle.py``: same columns, same
    dtype kinds, same rows after canonicalization (floats to 1e-9, then
    bit-exact)."""
    from tests.test_oracle import assert_float_bits, canonicalize, dtype_kind

    got_raw = got_raw.reindex(sorted(got_raw.columns), axis=1)
    want_raw = want_raw.reindex(sorted(want_raw.columns), axis=1)
    if list(got_raw.columns) != list(want_raw.columns):
        return [f"{name}: columns {list(got_raw.columns)} vs oracle {list(want_raw.columns)}"]
    kinds = {c: (dtype_kind(got_raw[c]), dtype_kind(want_raw[c])) for c in got_raw.columns}
    bad = {c: k for c, k in kinds.items() if "?" not in k and k[0] != k[1]}
    if bad:
        return [f"{name}: dtype kinds (spark, oracle) differ: {bad}"]
    got, want = canonicalize(got_raw), canonicalize(want_raw)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
        assert_float_bits(got, want, name)
    except AssertionError as exc:
        return [f"{name}: differs from the oracle: {str(exc).splitlines()[0]}"]
    return []


class _Loads:
    """Shared plumbing: numbered ``pipeline.run`` calls with a known
    ``job_ts``, and the expected table states kept beside them."""

    def __init__(self, spark, data: dict, work: str):
        from aircan_spark import pipeline

        self.spark = spark
        self.pipeline = pipeline
        self.res = data["resources_dir"]
        self.frames = data["frames"]
        self.inputs = data["inputs"]
        self.warehouse = os.path.join(work, "warehouse")
        self.export_dir = os.path.join(work, "export")
        self.op_index = 0
        self.expected: dict[str, pd.DataFrame] = {}
        self.rows_loaded = 0

    def _run(self, resource: str, method: str, table: str = "orders", **extra) -> dt.datetime:
        self.op_index += 1
        ts = gen.job_ts(self.op_index)
        self.pipeline.run(self.spark, {
            "resource_path": os.path.join(self.res, resource),
            "table_name": table,
            "warehouse": self.warehouse,
            "method": method,
            "unique_keys": KEYS,
            "job_ts": ts,
            **extra,
        })
        self.rows_loaded += self.inputs[resource]["rows"]
        return ts

    def table(self):
        from aircan_spark.table import ParquetTable

        return ParquetTable(self.spark, self.warehouse, "orders")

    def warmup(self, timer) -> None:
        self.cycle(timer)

    def live_rows(self) -> int:
        return sum(len(df) for df in self.expected.values())

    def check(self) -> tuple[int, list[str]]:
        """Returns (checks made, failures)."""
        return 1, _diff("orders", self.table().read().toPandas(), self.expected["orders"])


class IngestFresh(_Loads):
    name = "ingest_fresh"
    RESOURCES = ("orders.csv.gz",)

    def cycle(self, timer) -> None:
        with timer("overwrite_csv_gz"):
            ts = self._run(
                "orders.csv.gz", "overwrite",
                schema_descriptor=gen.ORDERS_DESCRIPTOR, validate=True,
                export={"path": self.export_dir, "format": "csv", "single_file": True},
            )
        self.expected["orders"] = _model_overwrite(self.frames["snapshot"], ts)

    def check(self) -> tuple[int, list[str]]:
        from aircan_spark.pipeline import ValidationFailure

        failures: list[str] = []
        exported = pd.read_csv(os.path.join(self.export_dir, "export.csv"))
        want = self.expected["orders"]
        if len(exported) != len(want):
            failures.append(f"export: {len(exported)} rows, expected {len(want)}")
        elif not (
            exported["_id"].tolist() == list(range(1, len(want) + 1))
            and exported["o_orderkey"].tolist() == want["o_orderkey"].tolist()
            and exported["o_totalprice"].tolist() == want["o_totalprice"].tolist()
        ):
            failures.append("export: rows not the table's rows in _id order")
        # The failure path: a resource with malformed cells must be refused
        # and leave the committed version in place.
        version = self.table().current_version()
        try:
            self._run("orders_bad.csv.gz", "overwrite",
                      schema_descriptor=gen.ORDERS_DESCRIPTOR, validate=True)
            failures.append("bad resource: load was not refused")
        except ValidationFailure as exc:
            if exc.report["error_count"] < 1:
                failures.append("bad resource: refused with no errors reported")
        if self.table().current_version() != version:
            failures.append("bad resource: table version moved")
        checks, table_failures = super().check()
        return checks + 2, failures + table_failures


class IncrementalMerge(_Loads):
    name = "incremental_merge"
    RESOURCES = ("orders.parquet", "append.parquet", "upsert.parquet",
                 "orders.parquet", "correction.parquet")

    def __init__(self, spark, data: dict, work: str):
        from aircan_spark.queries import QUERIES

        super().__init__(spark, data, work)
        self.tables_dir = data["tables_dir"]
        self.queries = {k: QUERIES[k] for k in QUERY_KEYS}

    def _load(self, timer, op: str, resource: str, method: str, table: str,
              state: pd.DataFrame | None, **extra) -> pd.DataFrame:
        with timer(op):
            ts = self._run(resource, method, table, **extra)
        src = self.frames[gen.PARQUET_RESOURCES[resource]]
        if method == "overwrite":
            return _model_overwrite(src, ts)
        if method == "append":
            return _model_append(state, src, ts)
        return _model_upsert(state, src, ts)

    def cycle(self, timer) -> None:
        flat = self._load(timer, "overwrite_parquet", "orders.parquet", "overwrite", "orders", None)
        flat = self._load(timer, "append_delta", "append.parquet", "append", "orders", flat)
        self.expected["orders"] = self._load(timer, "upsert_delta", "upsert.parquet", "upsert",
                                             "orders", flat)
        buckets = {"num_buckets": NUM_BUCKETS}
        bkt = self._load(timer, "bucketed_overwrite", "orders.parquet", "overwrite",
                         "orders_b", None, **buckets)
        bkt = self._load(timer, "bucketed_upsert_correction", "correction.parquet", "upsert",
                         "orders_b", bkt, **buckets)
        self.expected["orders_b"] = bkt
        for key in self.queries:
            with timer(key, kind="query"):
                self.run_query(key)

    def run_query(self, key: str) -> None:
        """Build the query afresh and run it into a ``noop`` sink."""
        self.queries[key](self.spark, self.tables_dir).write.format("noop").mode(
            "overwrite").save()

    def check(self) -> tuple[int, list[str]]:
        import duckdb

        from aircan_spark.bucketed import BucketedParquetTable
        from aircan_spark.queries import ORACLES

        checks, failures = super().check()
        bucketed = BucketedParquetTable(self.spark, self.warehouse, "orders_b", keys=KEYS,
                                        num_buckets=NUM_BUCKETS)
        failures += _diff("orders_b", bucketed.read().toPandas(), self.expected["orders_b"])
        con = duckdb.connect()
        for t in ("orders", "customer"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.tables_dir, t + '.parquet')}'")
        for key, fn in self.queries.items():
            failures += _oracle_diff(key, fn(self.spark, self.tables_dir).toPandas(),
                                     con.sql(ORACLES[key]).df())
        con.close()
        return checks + 1 + len(self.queries), failures


WORKLOADS = {w.name: w for w in (IngestFresh, IncrementalMerge)}
