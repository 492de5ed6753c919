#!/usr/bin/env python
"""Capture .explain("formatted") output for named declared queries into
plans/<tag>/<query>_<suffix>.txt (round-12 evidence contract).

Queries that build their result through table writes (q15/q16 run a real
overwrite + upsert) return a checkpointed frame whose own plan is a bare
RDD scan, so the plan of every parquet write the query issues is appended
to the file too, in order, under a "== write N: <dir> ==" header.

Usage:
    python scripts/capture_plans.py <tag> <suffix> name [name...]
e.g.
    python scripts/capture_plans.py r12 before ext_rich_club ext_abc_xyz
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from aircan_spark.session import get_spark
    from aircan_spark.queries import QUERIES

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="capture_plans",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql.readwriter import DataFrameWriter

    def explain(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    writes: list[str] = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        head = f"== write {len(writes) + 1}: {os.path.basename(path.rstrip('/'))} =="
        writes.append(f"{head}\n{explain(self._df)}")
        return real_parquet(self, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        writes.clear()
        df = QUERIES[name](spark, sf_dir)
        plan = "\n\n".join([explain(df), *writes])
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan.splitlines())} plan lines")


if __name__ == "__main__":
    main()
