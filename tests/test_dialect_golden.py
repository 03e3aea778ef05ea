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

The ``render_parametric`` section was recorded later, from the if-chain
``_render_parametric`` that the parametric registry replaced: for every
``_PARAMETRIC`` head plus three ``-Resample`` heads, each parameter list
of :data:`_PARAM_SHAPES` against the :func:`_variants` argument shapes
at arities 0-4.  :func:`record_render_parametric` rewrites that section
alone, run from the repository root::

    python -c "from tests.test_dialect_golden import record_render_parametric as r; r()"
"""

from __future__ import annotations

import json
import warnings
from pathlib import Path

import pytest

from clickhouse_vs_dbt_spark import dialect

GOLDEN_PATH = Path(__file__).with_name("dialect_golden.json")
GOLDEN = json.loads(GOLDEN_PATH.read_text(encoding="utf-8"))

#: parameter lists for ``fn(params)(args)``: levels, a bucket triple,
#: an array literal, sequence patterns (plain subsequence, adjacency,
#: exact time guard) and the string modes some heads inspect
_PARAM_SHAPES = (
    [],
    ["1"], ["0.5"], ["[1, 2]"],
    ["'(?1).*(?2)'"], ["'(?1)(?2)'"], ["'(?1)(?t==1)(?2)'"],
    ["0.5", "0.9"], ["1", "'strict_order'"],
    ["0", "4", "2"], ["0.5", "0.9", "0.95"],
    ["1", "'strict'", "'strict_increase'"], ["10", "0", "'counts'"],
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


def _parametric_cases():
    """``(key, name, params)`` for the ``render_parametric`` section;
    the key spells the parameter list, ``quantiles(0.5, 0.9)``."""
    names = dialect._PARAMETRIC | {
        "sumResample", "countResample", "avgResample",
    }
    for name in sorted(names):
        for params in _PARAM_SHAPES:
            yield f"{name}({', '.join(params)})", name, params


def _render_parametric_results() -> dict[str, list]:
    shapes = [a for n in range(5) for a in _variants(n)]
    return {
        key: [_record(dialect._render_parametric, name, params, args)
              for args in shapes]
        for key, name, params in _parametric_cases()
    }


def record_render_parametric(path: Path = GOLDEN_PATH) -> None:
    """Rewrite the ``render_parametric`` section of the golden file
    from the current ``_render_parametric``, leaving the bytes of
    every other section as they are."""
    text = path.read_text(encoding="utf-8")
    cut = text.find(',\n"render_parametric": {')
    body = text[:cut] if cut >= 0 else text.rstrip()[:-1].rstrip()
    lines = ",\n".join(
        f" {json.dumps(key)}: {json.dumps(res, ensure_ascii=False)}"
        for key, res in _render_parametric_results().items()
    )
    path.write_text(
        f'{body},\n"render_parametric": {{\n{lines}\n}}\n}}\n',
        encoding="utf-8",
    )


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


def test_render_parametric_matches_golden():
    got = _render_parametric_results()
    want = GOLDEN["render_parametric"]
    assert list(got) == list(want)
    assert all(len(got[key]) == len(v) for key, v in want.items())
    assert _mismatches(
        ((key, i), w, g)
        for key in want
        for i, (w, g) in enumerate(zip(want[key], got[key]))
    ) is None


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
    with pytest.raises(ValueError, match="topK"):
        dialect._parametric("topK")(fn)  # has a renderer
    with pytest.raises(ValueError, match="quantiles"):
        dialect._parametric("quantiles")(fn)  # a percentile row
    assert dialect._PARAMETRIC_RENDERERS["topK"] is not fn


#: the parametric heads of the if-chain the registry replaced, plus
#: quantileBFloat16If, the -If twin medianBFloat16If renders through;
#: the front door's refusal message lists them in this order
_PARENT_PARAMETRIC = [
    "groupArrayLast", "groupArraySample", "groupArraySorted",
    "groupConcat", "histogram", "maxMapFiltered", "meanZTest",
    "medianDD", "medianExactWeighted", "minMapFiltered", "quantile",
    "quantileBFloat16", "quantileBFloat16If", "quantileDD",
    "quantileDeterministic",
    "quantileExact", "quantileExactExclusive", "quantileExactHigh",
    "quantileExactIf", "quantileExactInclusive", "quantileExactLow",
    "quantileExactMerge", "quantileExactWeighted",
    "quantileExactWeightedIf", "quantileGK", "quantileIf",
    "quantileInterpolatedWeighted", "quantileMerge", "quantileTDigest",
    "quantileTDigestIf", "quantileTiming", "quantileTimingIf",
    "quantileTimingMerge", "quantiles", "quantilesBFloat16",
    "quantilesDD", "quantilesDeterministic", "quantilesExact",
    "quantilesExactExclusive", "quantilesExactInclusive",
    "quantilesExactWeighted", "quantilesExactWeightedIf", "quantilesGK",
    "quantilesIf", "quantilesTDigest", "quantilesTiming",
    "sequenceCount", "sequenceCountIf", "sequenceMatch",
    "sequenceMatchIf", "sumMapFiltered", "topK", "topKIf",
    "topKWeighted", "uniqCombined", "uniqCombined64", "uniqUpTo",
    "windowFunnel", "windowFunnelIf",
]


def test_parametric_heads_are_the_registry_keys():
    assert dialect._PARAMETRIC == frozenset(dialect._PARAMETRIC_RENDERERS)
    assert sorted(dialect._PARAMETRIC) == _PARENT_PARAMETRIC
    with pytest.raises(dialect.DialectError) as caught:
        dialect.transpile("SELECT fooBar(1)(x) FROM t")
    assert str(caught.value).endswith(", ".join(_PARENT_PARAMETRIC))


def test_every_registered_key_is_reachable(monkeypatch):
    """No alias or pattern shadows a registration: the dispatcher
    answers each template key from its row and each handler name
    from its handler, and :func:`_render_parametric` answers each
    parametric head from its renderer, before the -Resample rule."""
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
    # the parametric table: each percentile row renders its own Spark
    # aggregate, and every key is answered by its own renderer
    rows = {
        name: "percentile" if "Exact" in name else "percentile_approx"
        for name in ("quantile", "quantiles", "quantileTDigest",
                     "quantilesTDigest", "quantileTiming",
                     "quantilesTiming", "quantileBFloat16",
                     "quantilesBFloat16", "quantileExact",
                     "quantilesExact")
    }
    for name, fn in rows.items():
        levels = "array(0.5)" if name.startswith("quantiles") else "0.5"
        assert dialect._render_parametric(name, ["0.5"], ["x"]) == (
            f"{fn}(x, {levels})"
        )
    for name in list(dialect._PARAMETRIC_RENDERERS):
        monkeypatch.setitem(
            dialect._PARAMETRIC_RENDERERS, name,
            lambda n, p, a: f"<rendered {n}>",
        )
        assert dialect._render_parametric(name, ["1"], ["a0"]) == (
            f"<rendered {name}>"
        )


def test_compat_names_render_from_their_row():
    """Each ``_COMPAT_FUNCS`` name has one definition: at its declared
    arity the front door renders the row's template, and no rename or
    template row of the transpiler spells it."""
    assert not dialect._RENAME.keys() & dialect._COMPAT_FUNCS.keys()
    for name, (sig, body) in dialect._COMPAT_FUNCS.items():
        args = [f"a{i}" for i in range(len(dialect.compat_params(sig)))]
        assert dialect._render_call(name, args) == body.format(*args), name
        template = dialect._TEMPLATES.get((name, len(args)))
        assert template in (None, body), name


def test_no_transpiled_statement_calls_a_compat_function():
    """The front door inlines every compat name, so no ``_CH_*``
    statement or pass-through candidate needs a session SQL function."""
    from tests.test_compat_register import _compat_calls
    from tools.passthrough_audit import CANDIDATES

    sqls = [v for k, v in vars(dialect).items()
            if k.startswith("_CH_") and isinstance(v, str)]
    sqls += [f"SELECT {expr} AS r FROM __pt_audit" for expr in CANDIDATES]
    calls = {}
    for sql in sqls:
        got = _record(dialect.transpile, sql)
        out = got.get("out") if isinstance(got, dict) else got
        if isinstance(out, str) and (found := _compat_calls(out)):
            calls[sql] = found
    assert len(sqls) > 111 and not calls, calls


@pytest.mark.parametrize("name, args", [
    ("generateUUIDv4", ["x"]), ("generateUUIDv7", ["x"]),
    ("generateSnowflakeID", ["x"]), ("fuzzBits", ["s", "0.1"]),
    ("generateULID", ["x"]),
])
def test_dialect_warning_points_at_the_caller(name, args):
    with pytest.warns(dialect.DialectWarning) as caught:
        dialect._render_call(name, args)
    assert [w.filename for w in caught] == [__file__]
