"""Golden equivalence for the ClickHouse front door (dialect.py).

``tests/dialect_golden.json`` was recorded from the if-chain
``_render_call`` that the name-keyed registry replaced.  It holds, for
every name that chain, ``_B18_ALIASES``, ``_RENAME`` or ``_PARAMETRIC``
knew, the result of ``_render_call`` at arities 0-4 over the argument
shapes of :func:`_variants`; ``transpile`` of every ``_CH_*`` statement;
and ``transpile`` of every ``tools/passthrough_audit.py`` candidate.  A
result is the output string, or ``[exception class, message]``; when
DialectWarnings fired it is ``{"out" | "exc": ..., "warn": [...]}``.
Dispatch changes must keep all of it byte for byte.
"""

from __future__ import annotations

import json
import warnings
from pathlib import Path

import pytest

from clickhouse_vs_dbt_spark import dialect

GOLDEN = json.loads(
    (Path(__file__).with_name("dialect_golden.json")).read_text()
)


def _variants(n: int) -> list[list[str]]:
    """Argument shapes at arity ``n``: bare columns, quoted literals,
    numerals, and the two literal/column mixes — some branches only
    fire on literal arguments.  Duplicates (arity 0 and 1) collapse."""
    shapes = [
        [f"a{i}" for i in range(n)],
        ["'x'"] * n,
        [str(i + 1) for i in range(n)],
        ["'x'"] + [f"a{i}" for i in range(1, n)],
        ["a0"] + ["'x'"] * (n - 1),
    ]
    out: list[list[str]] = []
    for shape in shapes:
        shape = shape[:n]
        if shape not in out:
            out.append(shape)
    return out


def _record(fn, *args):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        try:
            res, key = fn(*args), "out"
        except Exception as ex:  # noqa: BLE001 — the class is the result
            res, key = [type(ex).__name__, str(ex)], "exc"
    msgs = [str(w.message) for w in caught]
    return {key: res, "warn": msgs} if msgs else res


def _mismatches(pairs):
    bad = [(key, want, got) for key, want, got in pairs if want != got]
    return f"{len(bad)} mismatch(es); first: {bad[:3]}" if bad else None


def test_render_call_matches_golden():
    shapes = [a for n in range(5) for a in _variants(n)]

    def pairs():
        for name, results in GOLDEN["render_call"].items():
            assert len(shapes) == len(results), name
            for args, want in zip(shapes, results):
                got = _record(dialect._render_call, name, args)
                yield (name, args), want, got

    assert GOLDEN["render_call"]
    assert _mismatches(pairs()) is None


def test_ch_statements_match_golden():
    names = sorted(
        k for k, v in vars(dialect).items()
        if k.startswith("_CH_") and isinstance(v, str)
    )
    assert names == sorted(GOLDEN["ch_statements"])
    assert _mismatches(
        (name, want, _record(dialect.transpile, sql))
        for name, (sql, want) in GOLDEN["ch_statements"].items()
    ) is None


def test_passthrough_candidates_match_golden():
    from tools.passthrough_audit import CANDIDATES

    assert list(CANDIDATES) == list(GOLDEN["passthrough_audit"])
    assert _mismatches(
        (expr, want, _record(
            dialect.transpile, f"SELECT {expr} AS r FROM __pt_audit"
        ))
        for expr, want in GOLDEN["passthrough_audit"].items()
    ) is None


def test_second_registration_raises():
    fn = lambda name, args: None  # noqa: E731
    with pytest.raises(ValueError, match="multiIf"):
        dialect._handler("multiIf")(fn)  # has a handler
    with pytest.raises(ValueError, match="cutWWW"):
        dialect._handler("cutWWW")(fn)  # has a template row
    with pytest.raises(ValueError, match="cutWWW/1"):
        dialect._template_table([("cutWWW", 1, "a"), ("cutWWW", 1, "b")])
    assert dialect._HANDLERS["multiIf"] is not fn


def test_every_registered_key_is_reachable(monkeypatch):
    """No alias or pattern shadows a registration: the dispatcher
    answers each template key from its row and each handler name
    from its handler."""
    for (name, arity), template in dialect._TEMPLATES.items():
        args = [f"a{i}" for i in range(arity)]
        assert name not in dialect._B18_ALIASES, name
        assert dialect._render_call(name, args) == template.format(*args)
    for name in list(dialect._HANDLERS):
        assert name not in dialect._B18_ALIASES, name
        monkeypatch.setitem(
            dialect._HANDLERS, name, lambda n, a: f"<handled {n}>"
        )
        assert dialect._render_call(name, ["a0"]) == f"<handled {name}>"


@pytest.mark.parametrize("name, args", [
    ("generateUUIDv4", ["x"]), ("generateUUIDv7", ["x"]),
    ("generateSnowflakeID", ["x"]), ("fuzzBits", ["s", "0.1"]),
    ("generateULID", ["x"]),
])
def test_dialect_warning_points_at_the_caller(name, args):
    with pytest.warns(dialect.DialectWarning) as caught:
        dialect._render_call(name, args)
    assert [w.filename for w in caught] == [__file__]
