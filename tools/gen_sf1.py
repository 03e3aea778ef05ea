"""Generate an sf1-scale dataset for the SSB-flight self-sweep
(r15, VERDICT r14 item 7).

The reference's published golden numbers run at sf=1 (~6M lineorder
rows — baikulov/clickhouse_vs_dbt README's ClickHouse vs dbt timings);
the driver ships fixtures only up to sf0.1, so this builds a
same-scale dataset by DETERMINISTIC 10x replication of the driver's
sf0.1 tables into ``.localdata/sf1/`` (gitignored, outside
/root/testdata which is read-only):

* ``orders`` and ``lineitem`` replicate 10x with both sides of the
  orderkey join shifted by ``rep * (max(o_orderkey) + 1)`` — the
  fact-to-fact join fans exactly as at sf0.1, measures scale 10x.
* dimension tables (and the non-SSB tables) copy verbatim: each dim
  row serves 10x fact rows, which only widens per-key group sizes —
  TPC-H scales dims with sf too, but the SSB flight's correctness
  contract (Spark == DuckDB on identical inputs) does not depend on
  dim cardinality, and identical dims keep the filter selectivities
  of the sf0.1 fixtures.

Single-file parquet per table (DuckDB's ``read_parquet`` in
tools/oracle_check.py reads ``{dir}/{t}.parquet`` as one file);
row-group-per-replica keeps peak memory at one sf0.1 table.

Usage: python tools/gen_sf1.py [src_dir] [dst_dir] [reps]
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

COPY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "events", "documents", "embeddings",
)


def generate(src: str, dst: str, reps: int = 10) -> None:
    os.makedirs(dst, exist_ok=True)
    orders = pq.read_table(f"{src}/orders.parquet")
    shift = pc.max(orders["o_orderkey"]).as_py() + 1

    def replicate(name: str, keycol: str) -> None:
        t = pq.read_table(f"{src}/{name}.parquet")
        idx = t.schema.get_field_index(keycol)
        with pq.ParquetWriter(f"{dst}/{name}.parquet", t.schema) as w:
            for r in range(reps):
                w.write_table(
                    t.set_column(
                        idx, t.schema.field(idx),
                        pc.add(t[keycol], r * shift),
                    )
                )

    replicate("orders", "o_orderkey")
    replicate("lineitem", "l_orderkey")
    for name in COPY_TABLES:
        shutil.copyfile(
            f"{src}/{name}.parquet", f"{dst}/{name}.parquet"
        )


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = (
        sys.argv[2] if len(sys.argv) > 2
        else str(Path(__file__).resolve().parents[1] / ".localdata/sf1")
    )
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    generate(src, dst, reps)
    li = pq.read_metadata(f"{dst}/lineitem.parquet")
    print(f"sf1 generated at {dst}: lineitem rows = {li.num_rows}")
