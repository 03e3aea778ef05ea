"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column names,
an order-insensitive value hash (columns sorted by name, rows sorted,
values stringified with float rounding), and a coarse dtype class per
column (int/float/decimal/str/...).  The dtype check exists because the
only hash failures across rounds 1-2 were decimal-vs-double drift
(events_json_extract, quantile_histogram_sketch): numerically identical
values that stringify differently.  Usage:

    python tools/oracle_check.py [--dtypes] [--resume] [sf_dir] [query ...]

``--emit`` now writes INCREMENTALLY (after every query), and
``--resume`` carries green entries over from an existing emit file
and re-runs only the rest — the sf1-sweep crash-safety pair.
Results >100k rows hash through the vectorized Arrow path
(``_fast_cols``/``table_hash_fast``; both engines go through the
same canonicalization, so the comparison semantics are unchanged).

``--dtypes`` compares schemas only (lazy Spark plan + DuckDB DESCRIBE),
no data is collected — a fast whole-suite sweep for the drift class.
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def value_repr(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(value_repr(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "|".join(value_repr(r[i]) for i in order) for r in rows
    )
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


FAST_ROWS = 100_000


def _fast_cols(tbl):
    """Vectorized canonical per-column string arrays (columns in
    name-sorted order), or None when a column type needs the exact
    slow path.  Used for LARGE results only (>FAST_ROWS — the sf1
    sweep class, where the per-value Python stringify in
    ``table_hash`` costs ~10 min per 6M-row side): both engines'
    Arrow tables go through THIS same canonicalization, so the
    cross-engine hash comparison is unchanged in kind, just
    vectorized.  Floats keep the %.6g rounding contract (numpy's
    ``%.6g`` is the same C printf as Python's).  Timestamps
    normalize to Arrow ``timestamp[us]`` and render through Arrow's
    own string cast — identical on both sides by construction;
    tz-aware columns fall back (the slow path's session-local
    isoformat semantics are not worth replicating vectorized).
    Decimal/list/struct/map/binary fall back."""
    import numpy as np
    import pyarrow as pa

    out = []
    for cname in sorted(tbl.column_names):
        col = tbl.column(cname)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        t = col.type
        nulls = np.asarray(col.is_null()) if col.null_count else None
        if pa.types.is_floating(t):
            vals = col.cast(pa.float64()).to_numpy(zero_copy_only=False)
            s = np.char.mod(
                "%.6g", np.nan_to_num(vals, nan=0.0)
            ).astype(object)
            nanm = np.isnan(vals)
            if nanm.any():
                s[nanm] = "NaN"
        elif pa.types.is_timestamp(t):
            if t.tz is not None:
                return None
            s = (
                col.cast(pa.timestamp("us"))
                .cast(pa.string())
                .to_numpy(zero_copy_only=False)
            )
        elif (
            pa.types.is_integer(t)
            or pa.types.is_boolean(t)
            or pa.types.is_date(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
        ):
            s = col.cast(pa.string()).to_numpy(zero_copy_only=False)
        else:
            return None
        s = s.astype(object)
        if nulls is not None:
            s[nulls] = "NULL"
        out.append(s)
    return out


def table_hash_fast(cols) -> str:
    """sha256 over name-sorted-column, row-sorted canonical strings —
    the vectorized twin of ``table_hash`` (same shape: rows joined
    with '|', sorted, newline-separated).  Only compared against
    hashes produced by this same function."""
    import numpy as np

    row = cols[0]
    for c in cols[1:]:
        row = row + "|" + c
    row = np.sort(row)
    h = hashlib.sha256()
    step = 1_000_000
    for i in range(0, len(row), step):
        if i:
            h.update(b"\n")
        h.update("\n".join(row[i : i + step].tolist()).encode())
    return h.hexdigest()[:16]


def _strip_utc(tbl):
    """Cast ``timestamp[*, tz=UTC]`` columns to naive timestamps.
    The session timezone is pinned UTC, so Spark's ``collect()``
    returns NAIVE datetimes at the UTC wall clock — but ``toArrow``
    keeps tz=UTC, and ``value_repr``'s isoformat would then print a
    ``+00:00`` suffix the DuckDB side never has (the r16 drift on
    dialect_asof_join/with_fill_expr).  Casting tz-aware → naive in
    Arrow keeps the same wall-clock instant."""
    import pyarrow as pa

    for i, f in enumerate(tbl.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz == "UTC":
            tbl = tbl.set_column(
                i, f.name,
                tbl.column(i).cast(pa.timestamp(f.type.unit)),
            )
    return tbl


def _tbl_rows(tbl) -> list[tuple]:
    """Arrow table → list of row tuples in table column order (the
    slow-path shape ``table_hash`` expects)."""
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols)) if cols else []


def dtype_class(t: str) -> str:
    """Coarse dtype class shared across Spark dtype strings and DuckDB
    DESCRIBE types, for drift detection.  ``decimal`` is deliberately its
    own class (never folded into float/int): decimal columns stringify
    with trailing zeros and break value hashes against DOUBLE/BIGINT."""
    t = t.lower().strip()
    if t.startswith("decimal"):
        return "decimal"
    if t in ("float", "double", "real") or t.startswith("float"):
        return "float"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "hugeint",
             "long", "short", "byte") or t.startswith(("uint", "ubigint", "usmallint", "utinyint")):
        return "int"
    if t in ("string", "varchar", "text", "char"):
        return "str"
    if t in ("boolean", "bool"):
        return "bool"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith(("array", "list")) or t.endswith("[]"):
        return "list"
    if t in ("binary", "blob"):
        return "binary"
    if t.startswith(("map", "struct", "variant", "json", "union")):
        return "other"
    return "other"


def dtype_mismatches(sdtypes: list[tuple], odtypes: list[tuple]) -> list[str]:
    """Per-column-name dtype class comparison; returns human-readable
    mismatch strings (empty = parity)."""
    omap = {n: t for n, t in odtypes}
    out = []
    for n, st in sdtypes:
        if n not in omap:
            continue  # column-name mismatch is reported separately
        sc, oc = dtype_class(st), dtype_class(omap[n])
        if sc != oc:
            out.append(f"{n}: spark={st}({sc}) oracle={omap[n]}({oc})")
    return out


def driver_hazards(sdtypes: list[tuple], odtypes: list[tuple]) -> list[str]:
    """Output shapes the *driver's* gate cannot hash even though this
    local gate could — the local gate must be strictly stricter
    (CORRECTNESS_r05 adjudication):

    * list/map/struct-typed Spark output columns — the driver's
      canonicalizer does a pandas ``sort_values`` over the object
      column and dies on ``unhashable type: 'list'``;
    * HUGEINT (INT128) DuckDB oracle columns — un-cast integer SUMs;
      pandas coerces them to float64, so the driver stringifies
      ``71071.0`` against Spark's ``71071`` and the hash misses.
    * DECIMAL-typed Spark output columns — ``sdf.toPandas()`` keeps
      them as Python ``Decimal`` objects (trailing-zero scale,
      ``Decimal('40334.475')`` repr) while ``duckdb.df()`` coerces
      DECIMAL to float64, so the driver's stringify mismatches on
      bit-identical values (dialect_modern_sql, red r6-r8; VERDICT r8
      adjudication).  Cast decimal outputs to DOUBLE on both sides.
    """
    out = []
    for n, st in sdtypes:
        if dtype_class(st) in ("list", "other") and st.lower().startswith(
            ("array", "map", "struct")
        ):
            out.append(f"{n}: spark output type {st} is driver-unhashable")
        if dtype_class(st) == "decimal":
            out.append(
                f"{n}: spark DECIMAL output ({st}) — toPandas keeps "
                "Decimal objects vs duckdb.df float64 in the driver "
                "gate; cast to DOUBLE on both engine and oracle sides"
            )
    for n, ot in odtypes:
        if ot.lower().strip() == "hugeint":
            out.append(
                f"{n}: oracle HUGEINT (cast the SUM to BIGINT) — "
                "pandas coerces INT128 to float64 in the driver gate"
            )
    return out


def main() -> int:
    argv = [
        a for a in sys.argv[1:] if a not in ("--dtypes", "--resume")
    ]
    dtypes_only = "--dtypes" in sys.argv[1:]
    resume = "--resume" in sys.argv[1:]
    emit_path = None
    if "--emit" in argv:
        i = argv.index("--emit")
        emit_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    emitted: dict[str, dict] = {}
    if resume and emit_path:
        import json
        import os

        if os.path.exists(emit_path):
            prev = json.load(open(emit_path)).get("queries", {})
            for k, v in prev.items():
                green = (
                    v.get("rows_match")
                    and v.get("schema_match") is not False
                    and v.get("hash_match") is not False
                    and not v.get("err")
                )
                if green:
                    emitted[k] = v
            print(
                f"resume: {len(emitted)} green queries carried over "
                f"from {emit_path}"
            )

    import __spark_entry__ as e
    from clickhouse_vs_dbt_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    def write_emit():
        if not emit_path:
            return
        import json

        with open(emit_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(emitted),
                    "n_green": sum(
                        1
                        for v in emitted.values()
                        if v["rows_match"]
                        and v["schema_match"] is not False
                        and v["hash_match"] is not False
                    ),
                    "queries": emitted,
                },
                f,
                indent=1,
                sort_keys=True,
            )

    qs, os_ = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in emitted:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        sdtypes = sdf.dtypes
        if dtypes_only:
            if name not in os_:
                print(f"{name:32s} (rows-only, no oracle)")
                continue
            try:
                odtypes = [
                    (r[0], r[1])
                    for r in con.execute(f"DESCRIBE ({os_[name]})").fetchall()
                ]
            except Exception as ex:
                failures.append((name, f"oracle describe error: {ex}"))
                print(f"{name:32s} ORACLE DESCRIBE ERROR: {ex}")
                continue
            mism = dtype_mismatches(sdtypes, odtypes)
            mism += driver_hazards(sdtypes, odtypes)
            if mism:
                failures.append((name, "; ".join(mism)))
                print(f"{name:32s} DTYPE MISMATCH  {'; '.join(mism)}")
            else:
                print(f"{name:32s} dtypes ok")
            continue
        stbl = None
        try:
            stbl = _strip_utc(sdf.toArrow())
            n_spark = stbl.num_rows
        except Exception:
            srows = [tuple(r) for r in sdf.collect()]
            n_spark = len(srows)
        t1 = time.time()
        if name not in os_:
            print(f"{name:32s} rows={n_spark:7d} (rows-only, no oracle) spark={t1-t0:.1f}s")
            if n_spark == 0:
                failures.append((name, "zero rows (rows-only check)"))
            emitted[name] = {
                "rows_match": n_spark > 0,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": n_spark,
                "oracle_rows": None,
                "err": None,
            }
            write_emit()
            continue
        try:
            res = con.execute(os_[name])
            ocols = [d[0] for d in res.description]
            scanon = ocanon = None
            if stbl is not None and n_spark > FAST_ROWS:
                scanon = _fast_cols(stbl)
            if scanon is not None:
                otbl = res.arrow()
                n_oracle = otbl.num_rows
                ocanon = _fast_cols(otbl)
                if ocanon is None:
                    orows = _tbl_rows(otbl)
                    scanon = None
            else:
                orows = [tuple(r) for r in res.fetchall()]
                n_oracle = len(orows)
            odtypes = [
                (r[0], r[1])
                for r in con.execute(f"DESCRIBE ({os_[name]})").fetchall()
            ]
        except Exception as ex:
            failures.append((name, f"oracle error: {ex}"))
            print(f"{name:32s} ORACLE ERROR: {ex}")
            emitted[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": n_spark,
                "oracle_rows": None,
                "err": str(ex)[:300],
            }
            write_emit()
            continue
        t2 = time.time()
        ok_rows = n_spark == n_oracle
        ok_cols = sorted(scols) == sorted(ocols)
        mism = dtype_mismatches(sdtypes, odtypes)
        mism += driver_hazards(sdtypes, odtypes)
        ok_dtypes = not mism
        if scanon is not None:
            sh, oh = table_hash_fast(scanon), table_hash_fast(ocanon)
        else:
            if stbl is not None:
                srows = _tbl_rows(stbl)
            sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
        ok_hash = sh == oh
        status = "OK" if (ok_rows and ok_cols and ok_hash and ok_dtypes) else "MISMATCH"
        print(
            f"{name:32s} {status}  rows {n_spark}/{n_oracle}"
            f" cols={'ok' if ok_cols else f'{sorted(scols)}!={sorted(ocols)}'}"
            f" hash={'ok' if ok_hash else f'{sh}!={oh}'}"
            f" dtypes={'ok' if ok_dtypes else '; '.join(mism)}"
            f" spark={t1-t0:.1f}s duck={t2-t1:.1f}s"
            + (" [fast-hash]" if scanon is not None else "")
        )
        if status != "OK":
            failures.append((
                name,
                f"rows {n_spark}/{n_oracle} cols_ok={ok_cols}"
                f" hash_ok={ok_hash} dtypes_ok={ok_dtypes}"
                + (f" [{'; '.join(mism)}]" if mism else ""),
            ))
        emitted[name] = {
            "rows_match": ok_rows,
            "schema_match": ok_cols and ok_dtypes,
            "hash_match": ok_hash,
            "spark_rows": n_spark,
            "oracle_rows": n_oracle,
            "err": None,
        }
        write_emit()
    write_emit()
    if emit_path:
        print(f"wrote {emit_path} ({len(emitted)} queries)")
    print()
    if failures:
        print("FAILURES:")
        for n, msg in failures:
            print(f"  {n}: {msg}")
        return 1
    print("all checked queries OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
