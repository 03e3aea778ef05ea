"""Result check against DuckDB, the way ``tools/oracle_check.py`` does it:
row count, column names, and an order-insensitive value hash over the
name-sorted columns, through that module's public ``table_hash``.
Results over ``FAST_ROWS`` rows are compared as row multisets inside
DuckDB instead (see ``_compare_large``)."""

from __future__ import annotations

import os
import sys
import tempfile

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _oracle_check():
    saved = list(sys.path)
    sys.path.insert(0, _TOOLS)
    try:
        import oracle_check
    finally:
        sys.path[:] = saved  # the module adds its own search path on import
    return oracle_check


def duckdb_views(data_dir: str, tables: tuple[str, ...]):
    """A DuckDB connection with one view per input table."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def strip_utc(tbl):
    """Cast ``timestamp[*, tz=UTC]`` columns to naive ones.  The session
    time zone is UTC; ``toArrow`` keeps tz=UTC while DuckDB's timestamps
    are naive, and the value hash would tell the two apart."""
    import pyarrow as pa

    for i, f in enumerate(tbl.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz == "UTC":
            naive = tbl.column(i).cast(pa.timestamp(f.type.unit))
            tbl = tbl.set_column(i, f.name, naive)
    return tbl


def compare(df, con, expected_sql: str) -> str | None:
    """None when Spark DataFrame ``df`` and DuckDB's ``expected_sql``
    agree; otherwise what differs."""
    oc = _oracle_check()
    stbl = strip_utc(df.toArrow())
    if stbl.num_rows > oc.FAST_ROWS:
        return _compare_large(stbl, con, expected_sql)
    res = con.execute(expected_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if stbl.num_rows != len(orows):
        return f"rows: spark={stbl.num_rows} duckdb={len(orows)}"
    if sorted(stbl.column_names) != sorted(ocols):
        return f"columns: spark={sorted(stbl.column_names)} duckdb={sorted(ocols)}"
    srows = list(zip(*(c.to_pylist() for c in stbl.columns)))
    sh = oc.table_hash(stbl.column_names, srows)
    oh = oc.table_hash(ocols, orows)
    return None if sh == oh else f"value hash: spark={sh} duckdb={oh}"


def _compare_large(stbl, con, expected_sql: str) -> str | None:
    """Large results: the multiset difference of the two row sets, taken
    inside DuckDB.  Exact on values, and a fraction of the memory the
    per-value string hash needs at millions of cells."""
    con.register("spark_result", stbl)
    try:
        ocols = [d[0] for d in con.execute(
            f"SELECT * FROM ({expected_sql}) LIMIT 0").description]
        if sorted(stbl.column_names) != sorted(ocols):
            return f"columns: spark={sorted(stbl.column_names)} duckdb={sorted(ocols)}"
        n_oracle = con.execute(f"SELECT count(*) FROM ({expected_sql})").fetchone()[0]
        if stbl.num_rows != n_oracle:
            return f"rows: spark={stbl.num_rows} duckdb={n_oracle}"
        cols = ", ".join(f'"{c}"' for c in sorted(ocols))
        s, o = f"SELECT {cols} FROM spark_result", f"SELECT {cols} FROM ({expected_sql})"
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM ({s} EXCEPT ALL {o})) "
            f"+ (SELECT count(*) FROM ({o} EXCEPT ALL {s}))"
        ).fetchone()[0]
        return None if diff == 0 else f"values: {diff} rows differ"
    finally:
        con.unregister("spark_result")
