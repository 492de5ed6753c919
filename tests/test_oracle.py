"""Spark-vs-DuckDB oracle gate — local mirror of the driver's t2 check.

Runs every entry in aircan_spark.queries.QUERIES at sf0.001 and compares
against the oracle SQL: row count, column names, and values (rows sorted,
order-insensitive, exact after canonicalization — floats excepted with a
tight tolerance).
"""

import os

import duckdb
import pandas as pd
import pytest

from aircan_spark.queries import ALLOW_EMPTY, ORACLES, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table found in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


@pytest.fixture(scope="module")
def oracle():
    return oracle_views(SF_DIR)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            # normalize temporal values to ISO strings so DATE (object of
            # datetime.date on the Spark side) and datetime64 (duckdb side)
            # compare equal
            df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%dT%H:%M:%S")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: pd.Timestamp(v).strftime("%Y-%m-%dT%H:%M:%S")
                if hasattr(v, "toordinal")
                else str(v)
            )
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def assert_float_bits(got: pd.DataFrame, want: pd.DataFrame, name: str = "") -> None:
    """Bit-exactness pass for float columns (r8 verdict item #2).

    The driver hashes typed values BIT-exactly, but the local compare's
    ``atol=1e-9`` (and pandas/python equality) treats ``-0.0 == 0.0`` —
    so all three committed r8 sweeps were structurally blind to the exact
    signed-zero class the driver failed (ext_quality_logit /
    ext_mediation_effect). This pass compares every float column's IEEE
    bit pattern after canonicalization (rows sorted on both sides): any
    divergence the driver's hash can see — signed zero first among them —
    now fails the sweep too. Both-NaN cells compare equal (both engines
    emit the canonical quiet NaN through pandas).

    Call AFTER the value compare: a bit mismatch with equal values is a
    representational divergence and gets the dedicated message below.
    """
    import numpy as np

    for c in got.columns:
        if not (
            pd.api.types.is_float_dtype(got[c]) or pd.api.types.is_float_dtype(want[c])
        ):
            continue
        a = got[c].to_numpy(dtype="float64", na_value=np.nan)
        b = want[c].to_numpy(dtype="float64", na_value=np.nan)
        ab, bb = a.view(np.uint64), b.view(np.uint64)
        ok = (ab == bb) | (np.isnan(a) & np.isnan(b))
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            raise AssertionError(
                f"{name}: float column {c!r} not BIT-exact at sorted row {i}: "
                f"spark {a[i]!r} (0x{int(ab[i]):016x}) vs "
                f"oracle {b[i]!r} (0x{int(bb[i]):016x}) — "
                "the driver's hash WILL diverge even if values compare equal "
                "(signed zero / ULP split); canonicalize or pin the math"
            )


def dtype_kind(series: pd.Series) -> str:
    """Collapse a column to the dtype KIND the driver's hash distinguishes.

    Round-1 lesson (VERDICT r01): the driver hash is dtype-sensitive —
    DuckDB's SUM(integer) returns HUGEINT which lands in pandas as
    float64, while Spark returns BIGINT/int64, and the hash diverges even
    when every value is identical. Decimal vs float is NOT distinguished
    (decimal-sum queries passed the driver with DuckDB mapping DECIMAL to
    float64), so Decimal objects count as 'f'.
    """
    if pd.api.types.is_bool_dtype(series):
        return "b"
    if pd.api.types.is_integer_dtype(series):
        return "i"
    if pd.api.types.is_float_dtype(series):
        return "f"
    if pd.api.types.is_datetime64_any_dtype(series):
        return "t"
    nonnull = series.dropna()
    if len(nonnull) == 0:
        return "?"  # all-NULL: kind unknowable, value compare still runs
    v = nonnull.iloc[0]
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return "f"
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
        return "t"
    if isinstance(v, str):
        return "s"
    return "o"  # arrays/structs — compared by value only


def guard_result(name: str, got_raw: "pd.DataFrame", allow_empty: dict) -> None:
    """The two result invariants every declared query holds, oracled or
    not. Both are explicit raises, not asserts: ``python -O`` strips
    asserts and would silently re-admit the vacuous-pass class.

    1. No raw-DECIMAL output columns (round-6 ext_idle_customers find):
       a Spark DECIMAL lands in pandas as Decimal objects whose
       trailing-zero repr diverges from DuckDB's float64 mapping the
       first time the query produces rows.
    2. Non-vacuousness (r6 verdict item #2): a 0-row result proves
       nothing — oracle agreement on empty frames is vacuous. Applies to
       rows-only queries too (their check is even weaker)."""
    import decimal as _decimal

    for c in got_raw.columns:
        col = got_raw[c]
        if col.dtype == object and len(col.dropna()):
            v = col.dropna().iloc[0]
            if isinstance(v, _decimal.Decimal):
                raise AssertionError(
                    f"column {c!r} outputs raw DECIMAL — cast "
                    "to double/string in the query "
                    "(vacuous-pass trap)"
                )
    if len(got_raw) == 0 and name not in allow_empty:
        raise AssertionError(
            "vacuous result: 0 rows at this SF — rewrite the "
            "predicate to fire on testdata or annotate "
            f"ALLOW_EMPTY[{name!r}] with a reason"
        )


def oracle_diff(name: str, got_raw: pd.DataFrame, want_raw: pd.DataFrame | None) -> list[str]:
    """Why a query's result ``got_raw`` fails its check against
    ``want_raw`` (the oracle's, or another run's), or ``[]``. ``None``
    checks the result invariants alone (a rows-only key).

    The checks: ``guard_result``; same columns; same dtype kinds (the
    driver hashes typed values, so an int column on one side and a float
    column on the other fail even with equal values); same row count;
    the same values after canonicalization (floats to 1e-9); then every
    float column bit-exact."""
    try:
        guard_result(name, got_raw, ALLOW_EMPTY)
    except AssertionError as exc:
        return [f"{name}: {exc}"]
    if want_raw is None:
        return []
    got_raw = got_raw.reindex(sorted(got_raw.columns), axis=1)
    want_raw = want_raw.reindex(sorted(want_raw.columns), axis=1)
    if list(got_raw.columns) != list(want_raw.columns):
        return [f"{name}: column mismatch {list(got_raw.columns)} vs {list(want_raw.columns)}"]
    kinds = {c: (dtype_kind(got_raw[c]), dtype_kind(want_raw[c])) for c in got_raw.columns}
    bad = {c: k for c, k in kinds.items() if "?" not in k and k[0] != k[1]}
    if bad:
        return [
            f"{name}: dtype-kind mismatch (spark, oracle) = {bad} — driver hash WILL "
            "fail; cast the oracle (e.g. SUM->BIGINT) or the query"
        ]
    got, want = canonicalize(got_raw), canonicalize(want_raw)
    if len(got) != len(want):
        return [f"{name}: row count {len(got)} vs {len(want)}"]
    try:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
        )
        assert_float_bits(got, want, name)
    except AssertionError as exc:
        return [f"{name}: {exc}"]
    return []


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, oracle):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    # rows-only keys (non-SQL-expressible ops) hold the result invariants;
    # their value checks live in tests/test_ext.py
    want = oracle.sql(ORACLES[name]).df() if name in ORACLES else None
    diffs = oracle_diff(name, got, want)
    assert not diffs, "\n".join(diffs)
