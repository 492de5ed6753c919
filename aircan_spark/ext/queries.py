"""Declared correctness queries for the ext/ operators (dedup, similarity,
text analysis, multimodal plumbing, analytics, statistics, governance)
over the TPC-H-ish + documents/embeddings tables.

SQL-expressible operators carry a DuckDB oracle; the LSH-based ones
(minhash, simhash, hyperplane buckets) are algorithm-specific and get the
weaker rows-only check plus recall tests in tests/test_ext.py.

This module is the AGGREGATOR for the per-wave modules the former
16.7k-line monolith was split into (queries_w01..w09): importing it
imports every wave in historical order (filling the shared
EXT_QUERIES/EXT_ORACLES registries with identical content and insertion
order) and re-exports every wave-module name, so existing imports —
`from aircan_spark.ext.queries import ext_foo` — keep working unchanged.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES  # noqa: F401
from aircan_spark.ext import (  # noqa: F401
    queries_w01,
    queries_w02,
    queries_w03,
    queries_w04,
    queries_w05,
    queries_w06,
    queries_w07,
    queries_w08,
    queries_w09,
    queries_w10,
    queries_w11,
    queries_w12,
    queries_w13,
    queries_w14,
    queries_w15,
    queries_w16,
    queries_w17,
    queries_w18,
    queries_w19,
    queries_w20,
    queries_w21,
    queries_w22,
    queries_w23,
    queries_w24,
    queries_w25,
    queries_w26,
    queries_w27,
    queries_w28,
    queries_w29,
    queries_w30,
    queries_w31,
    queries_w32,
    queries_w33,
    queries_w34,
    queries_w35,
    queries_w36,
    queries_w37,
    queries_w38,
    queries_w39,
    queries_w40,
    queries_w41,
    queries_w42,
    queries_w43,
    queries_w44,
    queries_w45,
    queries_w46,
    queries_w47,
    queries_w48,
    queries_w49,
    queries_w50,
)

for _m in (queries_w01, queries_w02, queries_w03, queries_w04, queries_w05, queries_w06, queries_w07, queries_w08, queries_w09, queries_w10, queries_w11, queries_w12, queries_w13, queries_w14, queries_w15, queries_w16, queries_w17, queries_w18, queries_w19, queries_w20, queries_w21, queries_w22, queries_w23, queries_w24, queries_w25, queries_w26, queries_w27, queries_w28, queries_w29, queries_w30, queries_w31, queries_w32, queries_w33, queries_w34, queries_w35, queries_w36, queries_w37, queries_w38, queries_w39, queries_w40, queries_w41, queries_w42, queries_w43, queries_w44, queries_w45, queries_w46, queries_w47, queries_w48, queries_w49, queries_w50,):
    globals().update(
        {_k: _v for _k, _v in vars(_m).items() if not _k.startswith("__")}
    )
del _m
