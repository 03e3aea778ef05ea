"""The pass-through contract (tools/passthrough_audit.py): every
KNOWN ClickHouse name maps or refuses — a name reaching a Spark
analysis error is a bug (the r9 audits found ~40, including the
arraySort(f, arr) miscompile)."""

from __future__ import annotations


def test_known_names_map_or_refuse(spark):
    from tools.passthrough_audit import run_audit

    leaks = run_audit()
    assert leaks == [], f"{len(leaks)} pass-through leak(s): " + "; ".join(
        f"{e}: {m[:80]}" for e, m in leaks[:5]
    )


def test_format_and_utf8_case(spark):
    from clickhouse_vs_dbt_spark.dialect import DialectError, transpile

    import pytest

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r")).first().r

    assert one("format('{} and {}', 'a', 'b')") == "a and b"
    assert one("format('{1}-{0}', 'a', 'b')") == "b-a"
    assert one("format('100%{}', 'x')") == "100%x"
    assert one("lowerUTF8('ÄBC')") == "äbc"
    assert one("upperUTF8('äbc')") == "ÄBC"
    assert one("mapConcat(map('k', 1))") == {"k": 1}
    with pytest.raises(DialectError, match="literal pattern"):
        transpile("SELECT format(s, s) FROM t")
    with pytest.raises(DialectError, match="named placeholders"):
        transpile("SELECT format('{name}', s) FROM t")
