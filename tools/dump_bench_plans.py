"""Dump .explain("formatted") for bench entries to <out_dir>/<name>.txt.

Usage: PYTHONPATH=. python tools/dump_bench_plans.py <out_dir> [names...]

With no names, dumps every bench entry (headline + oracle_path +
extended).  Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) on the bench
session config, so the plans match what the bench times (AQE initial
plans).  To check that a change keeps plans identical, dump before and
after into two directories and diff them with expression ids (#\\d+)
normalized.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir = sys.argv[1]
    names = sys.argv[2:]
    import bench
    from financial_data_science_spark import get_spark
    from financial_data_science_spark.queries import Q

    spark = get_spark("dump_bench_plans")
    if not names:
        names = (bench.BENCH_QUERIES + bench.ORACLE_PATH_QUERIES
                 + bench.EXTENDED_QUERIES)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = bench.EXTRA.get(name) or Q[name]
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building {name}: {exc!r}"
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
