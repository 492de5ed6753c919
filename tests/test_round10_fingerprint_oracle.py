"""Round-10 pin: the promoted rolling-fingerprint oracle must mirror
Spark's whole-text shingle for documents with FEWER than n words
(_shingle_array emits one shingle of the space-joined words there —
'' for empty text — and md5('')'s first 15 hex digits happen to be
≡ 0 mod 8, so an empty doc has n_prints=1). The committed fixtures hold
no short docs, so this class is invisible to devcheck/sweeps — pin it
with a synthetic corpus through BOTH engines."""

import os

import duckdb
import pytest
from conftest import table_dir
from pyspark.sql import functions as F  # noqa: F401

from aircan_spark.ext.queries_w01 import (
    EXT_ROLLING_FINGERPRINT_SQL,
    ext_rolling_fingerprint,
)


@pytest.fixture()
def short_docs(spark, tmp_path, sf_dir):
    rows = [
        (1, ""),  # empty -> one '' shingle
        (2, "solo"),  # 1 word
        (3, "two words"),  # 2 words -> one 'two words' shingle
        (4, "   padded   tokens   "),  # trim + \s+ normalization
        (5, "alpha beta gamma delta"),  # normal >= 3-word doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return table_dir(tmp_path, sf_dir, documents=df)


def test_rolling_fingerprint_oracle_covers_short_docs(spark, short_docs):
    got = {
        r["doc_id"]: (r["n_prints"], r["prints_digest"])
        for r in ext_rolling_fingerprint(spark, short_docs).collect()
    }
    path = os.path.join(short_docs, "documents.parquet")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = {
        int(r[0]): (int(r[1]), r[2])
        for r in con.sql(EXT_ROLLING_FINGERPRINT_SQL).fetchall()
    }
    assert got == want
    assert got[1][0] == 1  # md5('') is ≡ 0 mod 8 — the empty-doc print
