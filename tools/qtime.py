"""Single-query timing harness for optimization work (guide §1).

Times the named ``queries()`` entries exactly as bench.py does — noop
sink, best-of-N after the same fixture warmup — without the
calibration kernels, so one query can be iterated on in seconds.

Usage:
    python tools/qtime.py [-n RUNS] [--explain] [--sf SF_DIR] q1 [q2 ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3, help="runs per query (report best + all)")
    ap.add_argument("--explain", action="store_true", help="print explain('formatted')")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import __spark_entry__ as e
    from clickhouse_vs_dbt_spark.catalog import FIXTURE_SCHEMAS, load_table
    from clickhouse_vs_dbt_spark.session import get_spark

    spark = get_spark("qtime")
    qs = e.queries()
    for t in FIXTURE_SCHEMAS:
        load_table(spark, args.sf, t).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()

    for name in args.queries:
        fn = qs.get(name)
        if fn is None:
            print(f"missing query {name!r}", file=sys.stderr)
            continue
        runs = []
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        print(f"{name:40s} best={min(runs):7.3f}  runs={runs}")
        if args.explain:
            df = fn(spark, args.sf)
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
