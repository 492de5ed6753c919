#!/usr/bin/env python
"""Value-check declared queries against their DuckDB oracles at one scale
factor, with tests/test_oracle.py's ``oracle_diff``: the compare the round
driver and the oracle test run, including the bit-exact float pass. Every
key, rows-only ones too, must also return rows and no raw DECIMAL column.
With no keys it checks the whole registry; ``--out`` writes the verdict
per key as JSON.

    python scripts/devcheck.py testdata/sf0.001 ext_foo ext_bar
    python scripts/devcheck.py testdata/sf0.01 --out SWEEP_SF001.json

Exit code 0 iff every key passes.

Protocol reminder (ROUND_NOTES lessons): check every NEW query at
sf0.001 AND sf0.01 AND sf0.1 — ANSI overflows and blank-group classes
only appear at the larger scales, and the driver compares at sf0.01.
"""
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run_queries import run_queries  # noqa: E402  (puts the repo and tests/ on sys.path, the repo on PYTHONPATH)
from test_oracle import oracle_diff, oracle_views  # noqa: E402

from aircan_spark.queries import ORACLES, QUERIES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("keys", nargs="*", help="default: every registry key")
    ap.add_argument("--out", help="JSON artifact, rewritten after every key")
    args = ap.parse_args()
    from aircan_spark.session import get_spark

    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_views(args.sf_dir)

    def check(key, got) -> dict:
        want = con.sql(ORACLES[key]).df() if key in ORACLES else None
        diffs = oracle_diff(key, got, want)
        verdict = "FAIL" if diffs else "values_match" if key in ORACLES else "rows_only"
        return {"verdict": verdict, "rows": len(got), **({"diffs": diffs} if diffs else {})}

    t_start = time.time()
    keys = args.keys or list(QUERIES)
    records = run_queries(spark, keys, args.sf_dir, passes=0, collect=check,
                          out=args.out, header={"sf_dir": args.sf_dir})
    for rec in records.values():
        rec.setdefault("verdict", "FAIL")  # the key raised
    failed = {k: r.get("diffs") or [r["error"]] for k, r in records.items() if r["verdict"] == "FAIL"}
    for key, why in failed.items():
        print(f"{key}: FAIL {why[0][:1200]}")
    summary = {
        "sf_dir": args.sf_dir,
        "n_queries": len(keys),
        "n_oracled": sum(k in ORACLES for k in keys),
        "n_values_match": sum(r["verdict"] == "values_match" for r in records.values()),
        "n_rows_only": sum(r["verdict"] == "rows_only" for r in records.values()),
        "n_fail": len(failed),
        "wall_sec": round(time.time() - t_start, 1),
    }
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({**summary, "queries": records}, fh, indent=1, sort_keys=True)
    print(json.dumps(summary, sort_keys=True))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
