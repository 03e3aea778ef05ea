"""Dump ``explain('formatted')`` for named bench queries.

Usage: SPARK_GRAFT_SF_DIR=<sf dir> \\
           python tools/dump_query_plan.py <out_dir> <suffix> q1 [q2 ...]
   -> <out_dir>/<query>_<suffix>.txt  (suffix: before | after)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    if len(sys.argv) < 4 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    import __spark_entry__ as e
    from clickhouse_vs_dbt_spark.session import get_spark

    spark = get_spark("dump_query_plan")
    qs = e.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(txt)
        print(f"wrote {out} ({len(txt)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
