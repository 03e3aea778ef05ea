"""Dump the EXECUTED plan of every SQL execution a query triggers —
including write jobs, whose REBALANCE exchanges never appear in
``df.explain`` of the returned SELECT (VERDICT r16 item 8: the r16
write-path plan dumps captured only the returned relation, leaving the
rebalance evidence to A/B timings and file counts).

Runs the named ``queries()`` entries, then reads the session's
SQLAppStatusStore and writes each execution's physicalPlanDescription
(the post-AQE executed plan) to ``<out_dir>/<query>_writes.txt``.

Usage: SPARK_GRAFT_SF_DIR=<sf dir> \\
           python tools/dump_write_plans.py <out_dir> q1 [q2 ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    if len(sys.argv) < 3 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    import __spark_entry__ as e
    from clickhouse_vs_dbt_spark.session import get_spark

    spark = get_spark("dump_write_plans")
    qs = e.queries()
    os.makedirs(out_dir, exist_ok=True)
    store = spark._jsparkSession.sharedState().statusStore()
    for name in names:
        start = store.executionsList().size()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        lst = store.executionsList()
        out = os.path.join(out_dir, f"{name}_writes.txt")
        with open(out, "w") as f:
            for i in range(start, lst.size()):
                ex = lst.apply(i)
                f.write(
                    f"=== execution {i}: {ex.description()}\n"
                )
                f.write(ex.physicalPlanDescription())
                f.write("\n\n")
        print(f"wrote {out} ({lst.size() - start} executions)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
