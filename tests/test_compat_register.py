"""``register_clickhouse_compat`` in a fresh session: one call makes
every compat function resolvable, each SQL function computes its body,
a repeat call is free, and a failed registration leaves the session
unmarked so the next call registers everything."""

from __future__ import annotations

import itertools

import pytest

from clickhouse_vs_dbt_spark import compat
from clickhouse_vs_dbt_spark.dialect import _tokens, transpile

# sample values per parameter type, NULL included (no zero BIGINT:
# intDiv/modulo raise on a zero divisor under ANSI mode)
_SAMPLES = {
    "DATE": ["DATE'2024-02-29'", "DATE'1995-12-31'", "DATE'1970-01-01'"],
    "TIMESTAMP": [
        "TIMESTAMP'2024-02-29 13:45:07'", "TIMESTAMP'1995-12-31 23:59:59'",
    ],
    "INT": ["3", "-14"],
    "BIGINT": ["17", "-5", "9007199254740993"],
    "STRING": ["'abc'", "''", "'a,b,,c'", "'ß,'"],
}


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


def _all_names() -> set[str]:
    return {n.lower() for n in compat._COMPAT_FUNCS} | {
        n.lower() for n, _ in compat._vectorized_udfs()
    }


@pytest.fixture
def fresh(spark):
    return spark.newSession()


def test_one_call_registers_every_function(fresh):
    assert not _all_names() & _temporary_names(fresh)
    compat.register_clickhouse_compat(fresh)
    assert _all_names() <= _temporary_names(fresh)
    assert len(compat._vectorized_udfs()) == 28
    assert len(compat._COMPAT_FUNCS) == 34


def _params(sig: str) -> tuple[list[tuple[str, str]], str]:
    """``(d DATE, n INT) RETURNS DATE`` -> ([(d, DATE), (n, INT)], DATE)."""
    args, ret = sig.split(" RETURNS ")
    params = [tuple(p.split()) for p in args.strip("()").split(",")]
    return params, ret.strip()


@pytest.fixture(scope="module")
def registered(spark):
    s = spark.newSession()
    compat.register_clickhouse_compat(s)
    return s


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
    "STRING": _SAMPLES["STRING"] + ["NULL"],
}


@pytest.mark.parametrize("name", sorted(compat._COMPAT_FUNCS))
def test_sql_function_equals_its_body(registered, fresh, name):
    """The registered SQL function computes its row's body, and the
    front door's inlined body answers as the SQL function does in a
    session that never registered one."""
    sig, body = compat._COMPAT_FUNCS[name]
    params, ret = _params(sig)
    # every combination of sample values, each parameter also NULL
    cols = [
        [f"CAST({v} AS {t})" for v in _SAMPLES[t] + ["NULL"]]
        for _, t in params
    ]
    rows = ", ".join(
        "(" + ", ".join(combo) + ")" for combo in itertools.product(*cols)
    )
    names = [p for p, _ in params]
    got = registered.sql(
        f"SELECT {', '.join(names)}, {name}({', '.join(names)}) AS got, "
        f"CAST(({body.format(*names)}) AS {ret}) AS want "
        f"FROM VALUES {rows} AS t({', '.join(names)})"
    ).collect()
    assert len(got) == len(list(itertools.product(*cols)))
    bad = [r for r in got if r["got"] != r["want"]]
    assert not bad, bad[:3]
    assert any(r["got"] is None for r in got)

    calls = [
        f"CAST({name}({', '.join(combo)}) AS STRING) AS c{i}"
        for i, combo in enumerate(
            itertools.product(*(_INPUTS[t] for _, t in params))
        )
    ]
    query = f"SELECT {', '.join(calls)}"
    inline = transpile(query)
    assert not _compat_calls(inline), inline
    assert not _all_names() & _temporary_names(fresh)
    want = registered.sql(query).first().asDict()
    got = fresh.sql(inline).first().asDict()
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
    broken = dict(compat._COMPAT_FUNCS)
    broken["toYear"] = ("(d DATE) RETURNS INT", "year({0}")
    monkeypatch.setattr(compat, "_COMPAT_FUNCS", broken)
    with pytest.raises(Exception, match="(?i)syntax|parse"):
        compat.register_clickhouse_compat(fresh)
    assert fresh.conf.get(compat._REGISTERED_FLAG, None) is None
    monkeypatch.undo()
    compat.register_clickhouse_compat(fresh)
    assert fresh.conf.get(compat._REGISTERED_FLAG, None) is not None
    assert _all_names() <= _temporary_names(fresh)
    assert fresh.sql("SELECT toYear(DATE'1993-05-01') AS y").first().y == 1993


def test_registers_without_pinned_threads(fresh, monkeypatch):
    # PYSPARK_PIN_THREAD=false: PySpark returns the session it was
    # given instead of a thread-target wrapper
    monkeypatch.setattr(compat, "inheritable_thread_target", lambda s: s)
    compat.register_clickhouse_compat(fresh)
    assert _all_names() <= _temporary_names(fresh)


def test_pool_threads_run_on_their_own_local_properties(fresh, monkeypatch):
    """Each pool thread gets its own clone of the caller's local
    properties.  A shared one is where concurrent ``spark.sql`` calls
    set and clear ``spark.sql.execution.id`` under each other."""
    import threading

    sc = fresh.sparkContext
    identity = sc._jvm.System.identityHashCode
    seen: dict[int, set] = {}

    def record(call):
        props = sc._jsc.sc().getLocalProperties()
        seen.setdefault(threading.get_ident(), set()).add(
            (identity(props), props.getProperty("cvds.test.inherited"))
        )
        return call()

    monkeypatch.setattr(compat, "_call", record)
    sc.setLocalProperty("cvds.test.inherited", "yes")
    try:
        compat.register_clickhouse_compat(fresh)
    finally:
        sc.setLocalProperty("cvds.test.inherited", None)
    caller = identity(sc._jsc.sc().getLocalProperties())
    assert threading.get_ident() not in seen and len(seen) >= 2
    assert all(len(props) == 1 for props in seen.values()), seen
    owned = [next(iter(props)) for props in seen.values()]
    assert len({ident for ident, _ in owned} | {caller}) == len(owned) + 1
    assert {inherited for _, inherited in owned} == {"yes"}


def test_fresh_sessions_register_concurrently(spark):
    for _ in range(20):
        s = spark.newSession()
        compat.register_clickhouse_compat(s)
        assert s.conf.get(compat._REGISTERED_FLAG, None) is not None
    assert s.sql("SELECT toYear(DATE'1993-05-01') AS y").first().y == 1993
