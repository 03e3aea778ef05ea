"""``register_clickhouse_compat`` in a fresh session: one call registers
the pandas UDFs and no compat SQL function, a repeat call is free, and
a failed registration leaves the session unmarked so the next call
registers everything.  Each ``_COMPAT_FUNCS`` name answers, through
the front door, what its native Spark spelling answers."""

from __future__ import annotations

import itertools

import pytest

from clickhouse_vs_dbt_spark import compat
from clickhouse_vs_dbt_spark.dialect import _tokens, transpile


def _temporary_names(spark) -> set[str]:
    return {f.name.lower() for f in spark.catalog.listFunctions()
            if f.isTemporary}


def _compat_calls(sql: str) -> list[str]:
    """The ``_COMPAT_FUNCS`` names that ``sql`` calls; Spark resolves
    function names case-insensitively, and string literals and quoted
    identifiers are single tokens, so a column named ``toYear(d)`` is
    no call."""
    names = {n.lower() for n in compat._COMPAT_FUNCS}
    code = [t for t in _tokens(sql) if not t.isspace()]
    return [t for t, nxt in zip(code, code[1:])
            if nxt == "(" and t.lower() in names]


def _udf_names() -> set[str]:
    return {n.lower() for n, _ in compat._vectorized_udfs()}


@pytest.fixture
def fresh(spark):
    return spark.newSession()


def test_one_call_registers_every_function(fresh):
    before = _temporary_names(fresh)
    assert not _udf_names() & before
    compat.register_clickhouse_compat(fresh)
    assert _temporary_names(fresh) - before == _udf_names()
    assert len(compat._vectorized_udfs()) == 28
    assert len(compat._COMPAT_FUNCS) == 34


def test_front_door_setup_launches_no_job(spark, sf_dir, monkeypatch):
    """What a ``dialect_frontdoor`` set-up does — load every table it
    names (``events`` included) and register the compat UDFs — runs no
    Spark job, and the only temporary functions it adds are the 28
    ``ch_*`` pandas UDFs."""
    import importlib
    import sys
    from pathlib import Path

    from clickhouse_vs_dbt_spark.catalog import register_views

    perfbench = Path(__file__).resolve().parents[1] / "perfbench"
    monkeypatch.syspath_prepend(str(perfbench))
    try:
        tables = importlib.import_module("workloads").DIALECT_TABLES
    finally:  # perfbench's flat module names stay out of other tests
        for name in ("workloads", "check"):
            sys.modules.pop(name, None)

    s = spark.newSession()
    before = _temporary_names(s)
    sc = s.sparkContext
    group = f"front-door-setup-{id(s)}"
    sc.setJobGroup(group, group)
    try:
        register_views(s, sf_dir, tables)
        compat.register_clickhouse_compat(s)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    added = _temporary_names(s) - before
    assert added == _udf_names()
    assert all(n.startswith("ch_") for n in added)
    assert not added & {n.lower() for n in compat._COMPAT_FUNCS}


def _params(sig: str) -> list[str]:
    """``(d DATE, n INT) RETURNS DATE`` -> ``['DATE', 'INT']``."""
    return [p.split()[1] for p in sig[1:sig.index(")")].split(",")]


#: what a front-door caller passes for each parameter type, NULL
#: included: dates, timestamps with and without a zone and date strings
#: for a date or timestamp, INT and BIGINT for an integer
_DATES = [
    "DATE'2024-02-29'", "DATE'1970-01-01'",
    "TIMESTAMP'2024-02-29 13:45:07'", "TIMESTAMP'1995-12-31 23:59:59'",
    "TIMESTAMP_NTZ'2024-02-29 13:45:07'", "'2024-02-29'",
    "'1995-12-31 23:59:59'", "NULL",
]
_INTEGERS = ["3", "-14", "CAST(17 AS BIGINT)", "CAST(-5 AS BIGINT)", "NULL"]
_INPUTS = {
    "DATE": _DATES, "TIMESTAMP": _DATES, "INT": _INTEGERS,
    "BIGINT": _INTEGERS + ["9007199254740993"],
    "STRING": ["'abc'", "''", "'a,b,,c'", "'ß,'", "NULL"],
}

#: each name's expected answer, spelled with Spark built-ins over its
#: arguments cast to the signature's parameter types, then cast to its
#: return type; where a built-in other than the row's body says the
#: same thing, it is the one written here
_NATIVE = {
    "toYear": "extract(YEAR FROM {0})",
    "toYYYYMM": "year({0}) * 100 + month({0})",
    "toISOWeek": "extract(WEEK FROM {0})",
    "toMonth": "extract(MONTH FROM {0})",
    "toDayOfMonth": "dayofmonth({0})",
    "toDayOfWeek": "extract(DAYOFWEEK_ISO FROM {0})",
    "toQuarter": "extract(QUARTER FROM {0})",
    "toStartOfMonth": "trunc({0}, 'MM')",
    "toMonday": "date_sub({0}, weekday({0}))",
    "toStartOfQuarter": "trunc({0}, 'QUARTER')",
    "toUnixTimestamp": "unix_seconds({0})",
    "addDays": "{0} + {1}",
    "subtractDays": "{0} - {1}",
    "addMonths": "{0} + make_ym_interval(0, {1})",
    "addYears": "{0} + make_ym_interval({1}, 0)",
    "toDayOfYear": "extract(DOY FROM {0})",
    "toStartOfHour": "date_trunc('HOUR', {0})",
    "toStartOfMinute": "date_trunc('MINUTE', {0})",
    "toLastDayOfMonth": "date_sub(add_months(trunc({0}, 'MM'), 1), 1)",
    "dateDiff_day": "unix_date({1}) - unix_date({0})",
    "toStartOfYear": "trunc({0}, 'YEAR')",
    "toStartOfDay": "date_trunc('DAY', {0})",
    "toDate": "to_date({0})",
    "toHour": "extract(HOUR FROM {0})",
    "toMinute": "extract(MINUTE FROM {0})",
    "toSecond": "extract(SECOND FROM {0})",
    "bitCount": "bit_count({0})",
    "intDiv": "{0} DIV {1}",
    "modulo": "{0} - {0} DIV {1} * {1}",
    "empty": "{0} = ''",
    "notEmpty": "{0} <> ''",
    "lengthUTF8": "char_length({0})",
    "editDistance": "levenshtein({0}, {1})",
    "splitByChar": "split({1}, concat('\\\\Q', {0}, '\\\\E'))",
}


def test_every_name_has_a_native_spelling():
    assert _NATIVE.keys() == compat._COMPAT_FUNCS.keys()


@pytest.mark.parametrize("name", sorted(compat._COMPAT_FUNCS))
def test_sql_function_equals_its_body(fresh, name):
    """The front door's inlined body answers, for every combination of
    ``_INPUTS`` (NULL included), what the name's native spelling over
    the typed arguments answers, in a session that registered no
    compat function."""
    sig, _ = compat._COMPAT_FUNCS[name]
    types = _params(sig)
    ret = sig.split(" RETURNS ")[1]
    combos = list(itertools.product(*(_INPUTS[t] for t in types)))
    calls = [
        f"CAST({name}({', '.join(combo)}) AS STRING) AS c{i}"
        for i, combo in enumerate(combos)
    ]
    natives = [
        "CAST(CAST(({}) AS {}) AS STRING) AS c{}".format(
            _NATIVE[name].format(
                *(f"CAST({v} AS {t})" for v, t in zip(combo, types))
            ), ret, i,
        )
        for i, combo in enumerate(combos)
    ]
    inline = transpile(f"SELECT {', '.join(calls)}")
    assert not _compat_calls(inline), inline
    got = fresh.sql(inline).first().asDict()
    want = fresh.sql(f"SELECT {', '.join(natives)}").first().asDict()
    assert not _udf_names() & _temporary_names(fresh)
    assert len(got) == len(combos)
    assert any(v is None for v in want.values())
    bad = {c: (want[c], got[c]) for c in want if want[c] != got[c]}
    assert not bad, [(calls[int(c[1:])], v) for c, v in bad.items()][:3]


def test_second_call_issues_no_round_trip(fresh, monkeypatch):
    compat.register_clickhouse_compat(fresh)
    calls = []

    def refuse(*args, **kwargs):
        calls.append(args)
        raise AssertionError("registration round trip on a second call")

    monkeypatch.setattr(fresh, "sql", refuse)
    monkeypatch.setattr(type(fresh.udf), "register", refuse)
    compat.register_clickhouse_compat(fresh)
    assert calls == []


def test_failed_registration_raises_and_leaves_session_unmarked(
    fresh, monkeypatch
):
    rows = compat._vectorized_udfs()
    broken = rows[:-1] + [(rows[-1][0], "not a udf")]
    monkeypatch.setattr(compat, "_vectorized_udfs", lambda: broken)
    with pytest.raises(Exception, match="NOT_CALLABLE"):
        compat.register_clickhouse_compat(fresh)
    assert fresh.conf.get(compat._REGISTERED_FLAG, None) is None
    monkeypatch.undo()
    compat.register_clickhouse_compat(fresh)
    assert fresh.conf.get(compat._REGISTERED_FLAG, None) is not None
    assert _udf_names() <= _temporary_names(fresh)
    assert fresh.sql("SELECT ch_erf(0.0) AS e").first().e == 0.0
