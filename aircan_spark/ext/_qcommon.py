"""Shared prolog for the declared-query wave modules (split from the
former single-file ext/queries.py): common imports, the table loader, and
the ONE pair of registry dicts every wave module mutates in place.
Import EXT_QUERIES/EXT_ORACLES from aircan_spark.ext.queries (the
aggregator), not from here, unless you are a wave module.
"""

from __future__ import annotations

import os
import pathlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aircan_spark.rownum import footer_rows, with_row_number

from aircan_spark.data import fan_out
from aircan_spark.data import load_table as _load
from aircan_spark.ext import (
    chunking,
    dedup,
    features,
    multimodal,
    relational,
    sampling,
    similarity,
    text,
    vectors,
)
from aircan_spark.frames import scope, share
from aircan_spark.sources import read_parquet


def _t(spark, sf_dir, name):
    """Load + fan_out: every ext operator is compute-heavy per row, so a
    single-split local scan must not serialize it onto one core (no-op on
    inputs that already have enough splits)."""
    return fan_out(_load(spark, sf_dir, name))


def corpus_count(spark, sf_dir: str, name: str) -> int:
    """COUNT(*) of a testdata table (one parquet file), from its footer.

    The seven cap-adaptive panel queries need the corpus size at
    DataFrame-CONSTRUCTION time (the panel modulus is data-derived). The
    footer's record count is read on the driver with 0 Spark jobs, so
    construction scans nothing and a rewritten file is counted afresh.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    url = path if "://" in path else pathlib.Path(os.path.abspath(path)).as_uri()
    return footer_rows(spark, [url])[0]


def capped_panel_modulus(n_rows: int, base: int, cap: int) -> int:
    """Cap-adaptive panel thinning for the brute-scored kNN queries.

    A fixed-modulus panel (``vec_id % base == off``) keeps a constant
    FRACTION of the corpus, so any panel x panel (or panel x corpus)
    brute scorer built on it is quadratic in corpus size — measured:
    ext_modularity hit 49.5x wall at 10x data (SCALE_CURVE_GRAPH_r08)
    because its "panel" was simply half the corpus. Scaling the modulus
    with the corpus bounds the panel instead:

        P = base * max(1, ceil(n_rows / (base * cap)))

    keeps the historical ``base`` modulus while the panel fits in
    ``cap`` rows (true at every committed fixture SF, so driver/sweep
    outputs stay bit-identical) and grows P proportionally beyond, so
    the panel never exceeds ~cap rows at ANY corpus size — the same
    LEAST(cap, data-derived) calibration pattern the co-occurrence
    graph thresholds use. Oracles derive the identical P in SQL from
    the same COUNT(*) (CEIL over a float literal divisor).
    """
    import math

    # The seven oracle SQL blocks hardcode CEIL(COUNT(*) / 2000.0) as the
    # divisor, which equals base * cap only when that product is 2000 — a
    # caller with a different pairing that copies the SQL pattern would
    # silently diverge Spark vs oracle, so the invariant fails loudly HERE
    # (r8 ADVICE): new pairings must update the oracle divisor in lockstep.
    if base * cap != 2000:
        raise ValueError(
            f"capped_panel_modulus: base*cap must be 2000 to match the "
            f"oracle SQL divisor CEIL(COUNT(*)/2000.0); got "
            f"{base}*{cap}={base * cap} — update the oracle SQL pattern "
            "in lockstep before changing the pairing"
        )
    return base * max(1, math.ceil(n_rows / (base * cap)))



class _Registry(dict):
    """Insertion-ordered registry that REFUSES duplicate keys.

    Round-5 postmortem: two waves both registered ``ext_cronbach_alpha``
    and plain ``dict.update`` silently let the later wave shadow the
    earlier one — the w10 query became unreachable dead code while
    SURVEY still declared it. A wave module registering a key that
    already exists is always a bug (each declared query is a distinct
    SURVEY row), so collisions raise at import time instead of hiding.
    """

    def __setitem__(self, key, value):
        if key in self:
            raise KeyError(
                f"duplicate ext-query registry key {key!r}: already "
                "registered by an earlier wave module — pick a new key "
                "(one SURVEY row per key)"
            )
        super().__setitem__(key, value)

    def update(self, *args, **kwargs):  # noqa: A003 - dict API
        for k, v in dict(*args, **kwargs).items():
            self[k] = v


#: The shared declared-query registry. Every wave module calls
#: EXT_QUERIES.update(...) / EXT_ORACLES.update(...) against these SAME
#: dict objects at import time; aircan_spark.ext.queries imports the wave
#: modules in historical order, so insertion order (which drives the
#: round driver's sample rotation) is identical to the old monolith.
EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = _Registry()
EXT_ORACLES: dict[str, str] = _Registry()
