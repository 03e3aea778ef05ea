"""ClickHouse-dialect compatibility layer: the scalar-name table.

A user of the reference writes ``toYear(LO_ORDERDATE) = 1993``
(reference README.md:417, 426, 435).  ``_COMPAT_FUNCS`` is the one
definition of each such name: a signature and a body template.  The
dialect front door (``dialect.transpile``) inlines the body with the
call's arguments, so its SQL is the built-in spelling itself — same
plan, same pushdown, no session object.  No SQL function is
registered under these names: a raw ``spark.sql("SELECT toYear(d)")``
does not resolve; ``transpile``, ``dialect.run_clickhouse_sql`` and
the CLI ``sql`` command are the way in (MIGRATION.md).  The few
functions with no Catalyst spelling (``ch_erf``, ``ch_idn``, the
SipHash family …) are Arrow-batched pandas UDFs
(``_vectorized_udfs``), which ``register_clickhouse_compat`` registers
once per session.  ``queries()`` gates a query written verbatim in the
ClickHouse dialect to prove the surface.

Only functions with engine-exact Spark equivalents have a row
(SURVEY.md §2.1 D1-D3 et al.); anything with divergent semantics
(formatDateTime patterns, timezone-dependent toStartOfWeek modes) is
deliberately absent rather than subtly wrong.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from clickhouse_vs_dbt_spark.catalog import register_views
from clickhouse_vs_dbt_spark.operators.common import sql_dsum

if TYPE_CHECKING:
    from pyspark.sql._typing import UserDefinedFunctionLike

# name -> (signature, body), the one definition of each name.  The body
# is a str.format template ({0} the first argument) that ``transpile``
# fills with the call's arguments: it names each argument once and
# parenthesizes operators.  The signature gives the arity and the
# parameter types the body is written for.
_COMPAT_FUNCS: dict[str, tuple[str, str]] = {
    # date functions (the reference's entire scalar surface, D1-D3)
    "toYear": ("(d DATE) RETURNS INT", "year({0})"),
    "toYYYYMM": ("(d DATE) RETURNS INT", "CAST(date_format({0}, 'yyyyMM') AS INT)"),
    "toISOWeek": ("(d DATE) RETURNS INT", "weekofyear({0})"),
    "toMonth": ("(d DATE) RETURNS INT", "month({0})"),
    "toDayOfMonth": ("(d DATE) RETURNS INT", "day({0})"),
    "toDayOfWeek": ("(d DATE) RETURNS INT", "(weekday({0}) + 1)"),  # 1=Mon..7=Sun
    "toQuarter": ("(d DATE) RETURNS INT", "quarter({0})"),
    "toStartOfMonth": ("(d DATE) RETURNS DATE", "CAST(date_trunc('month', {0}) AS DATE)"),
    "toMonday": ("(d DATE) RETURNS DATE", "CAST(date_trunc('week', {0}) AS DATE)"),
    "toStartOfQuarter": ("(d DATE) RETURNS DATE", "CAST(date_trunc('quarter', {0}) AS DATE)"),
    # CAST as the parameter does where a bare date string (for
    # unix_timestamp), BIGINT or fractional count answers otherwise
    "toUnixTimestamp": ("(t TIMESTAMP) RETURNS BIGINT", "unix_timestamp(CAST({0} AS TIMESTAMP))"),
    "addDays": ("(d DATE, n INT) RETURNS DATE", "date_add({0}, CAST({1} AS INT))"),
    "subtractDays": ("(d DATE, n INT) RETURNS DATE", "date_sub({0}, CAST({1} AS INT))"),
    "addMonths": ("(d DATE, n INT) RETURNS DATE", "add_months({0}, {1})"),
    "addYears": ("(d DATE, n INT) RETURNS DATE", "add_months({0}, CAST({1} AS INT) * 12)"),
    "toDayOfYear": ("(d DATE) RETURNS INT", "dayofyear({0})"),
    "toStartOfHour": ("(t TIMESTAMP) RETURNS TIMESTAMP", "date_trunc('hour', {0})"),
    "toStartOfMinute": ("(t TIMESTAMP) RETURNS TIMESTAMP", "date_trunc('minute', {0})"),
    "toLastDayOfMonth": ("(d DATE) RETURNS DATE", "last_day({0})"),
    "dateDiff_day": ("(a DATE, b DATE) RETURNS INT", "datediff({1}, {0})"),
    "toStartOfYear": ("(d DATE) RETURNS DATE", "CAST(date_trunc('year', {0}) AS DATE)"),
    "toStartOfDay": ("(t TIMESTAMP) RETURNS TIMESTAMP", "date_trunc('day', {0})"),
    "toDate": ("(t TIMESTAMP) RETURNS DATE", "CAST({0} AS DATE)"),
    "toHour": ("(t TIMESTAMP) RETURNS INT", "hour({0})"),
    "toMinute": ("(t TIMESTAMP) RETURNS INT", "minute({0})"),
    "toSecond": ("(t TIMESTAMP) RETURNS INT", "second({0})"),
    # bit functions
    "bitCount": ("(x BIGINT) RETURNS INT", "bit_count({0})"),
    # arithmetic / conditional
    "intDiv": ("(a BIGINT, b BIGINT) RETURNS BIGINT", "(({0}) DIV ({1}))"),
    "modulo": ("(a BIGINT, b BIGINT) RETURNS BIGINT", "(({0}) % ({1}))"),
    # string functions
    "empty": ("(s STRING) RETURNS BOOLEAN", "(length({0}) = 0)"),
    "notEmpty": ("(s STRING) RETURNS BOOLEAN", "(length({0}) > 0)"),
    "lengthUTF8": ("(s STRING) RETURNS INT", "length({0})"),
    "editDistance": ("(a STRING, b STRING) RETURNS INT", "levenshtein({0}, {1})"),
    # NOTE: ClickHouse position(h, n) has no row — `position` is a
    # reserved Spark built-in (SQL-standard position(n IN h)); instr()
    # already has the ClickHouse signature.
    "splitByChar": (
        "(sep STRING, s STRING) RETURNS ARRAY<STRING>",
        "split({1}, concat('\\\\Q', {0}, '\\\\E'))",  # \Q..\E quotes sep
    ),
}


def compat_params(sig: str) -> list[str]:
    """``(d DATE, n INT) RETURNS DATE`` -> ``['d', 'n']``."""
    return [p.split()[0] for p in sig[1:sig.index(")")].split(",")]


#: session conf key holding the version of the registered UDF set
_REGISTERED_FLAG = "spark.clickhouse_vs_dbt_spark.compat.registered"


def register_clickhouse_compat(spark: SparkSession) -> None:
    """Register the ``_vectorized_udfs()`` pandas UDFs in the session
    (idempotent).

    The ``_COMPAT_FUNCS`` names are not registered: ``transpile``
    inlines each as its body, so a session SQL function named
    ``toYear`` would be called by no transpiled statement.  A session
    conf flag, set only after every registration succeeded, makes later
    calls free: every dialect front-door call invokes this, and
    temporary functions live for the session."""
    flag = f"vectorized_v{_VECTORIZED_VERSION}"
    if spark.conf.get(_REGISTERED_FLAG, None) == flag:
        return
    for name, udf in _vectorized_udfs():
        spark.udf.register(name, udf)
    spark.conf.set(_REGISTERED_FLAG, flag)


def _betainc(x: float, a: float, b: float) -> float:
    """Regularized incomplete beta I_x(a, b) — Lentz continued
    fraction (Numerical Recipes betacf form, public-domain algorithm).
    Powers the exact Student-t tail; |error| < 1e-12 over the
    (df/2, 1/2) parameter slice the t CDF uses."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(1.0 - x, b, a)
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    return math.exp(ln_front) * h / a


def t_pvalue(t: float, df: float) -> float:
    """Two-sided Student-t p-value: I_{df/(df+t²)}(df/2, 1/2)."""
    if t is None or df is None or df <= 0:
        return None
    if t != t or df != df:  # NaN
        return float("nan")
    return _betainc(df / (df + t * t), df / 2.0, 0.5)


def f_pvalue(f: float, d1: float, d2: float) -> float:
    """Upper-tail F(d1, d2) p-value: I_{d2/(d2+d1·f)}(d2/2, d1/2) —
    the one-way ANOVA tail (analysisOfVariance, r12 audit batch 15).
    The ENGINE computes this in pure SQL (dialect._betainc_sql, a
    Lanczos-lgamma + fixed-iteration Lentz fold — a Python UDF can't
    ride an aggregate whose arguments contain lambdas); this Python
    twin is the unit-test reference the SQL register is pinned
    against."""
    if f is None or d1 is None or d2 is None or d1 <= 0 or d2 <= 0:
        return None
    if f != f:  # NaN
        return float("nan")
    if f <= 0.0:
        return 1.0
    return _betainc(d2 / (d2 + d1 * f), d2 / 2.0, d1 / 2.0)


#: bump when the vectorized set below changes — the registration
#: flag must move or live sessions keep stale definitions
_VECTORIZED_VERSION = 16  # r14: ch_siphash64_keyed (SipHash-2-4)


def _vectorized_udfs() -> list[tuple[str, UserDefinedFunctionLike]]:
    """``(name, udf)`` rows: the few compat functions whose math has no
    Catalyst spelling, as Arrow-batched pandas UDFs.  ``ch_t_pvalue``
    is only ever applied to AGGREGATE OUTPUT rows (one per group), so
    the Python hop costs one Arrow batch per result partition, never a
    per-input-row path.  Return types are ``DataType`` objects: a DDL
    string would cost a JVM parse per UDF at registration."""
    from pyspark.sql.functions import pandas_udf

    udfs: list[tuple[str, UserDefinedFunctionLike]] = []

    @pandas_udf(DoubleType())
    def ch_t_pvalue(t: pd.Series, df: pd.Series) -> pd.Series:
        return pd.Series(
            [
                float("nan") if pd.isna(tv) or pd.isna(dv)
                else t_pvalue(float(tv), float(dv))
                for tv, dv in zip(t, df)
            ],
            dtype="float64",
        )

    udfs.append(("ch_t_pvalue", ch_t_pvalue))

    import math

    def _unary_math(fn):
        def _safe(v):
            try:
                return fn(float(v))
            except (ValueError, OverflowError):
                # poles / overflow (e.g. tgamma at non-positive
                # integers) — CH returns inf/nan there
                return float("inf")

        def apply(x: pd.Series) -> pd.Series:
            return pd.Series(
                [float("nan") if pd.isna(v) else _safe(v) for v in x],
                dtype="float64",
            )

        return apply

    def _erfinv(x: float) -> float:
        # inverse error function (r13 batch 18): Winitzki initial
        # guess refined by three Newton steps against libm's exact
        # erf — full double precision away from the +-1 poles
        if x != x:
            return float("nan")
        if x >= 1.0:
            return float("inf") if x == 1.0 else float("nan")
        if x <= -1.0:
            return float("-inf") if x == -1.0 else float("nan")
        if x == 0.0:
            return 0.0
        a = 0.147
        ln1mx2 = math.log(1.0 - x * x)
        t = 2.0 / (math.pi * a) + ln1mx2 / 2.0
        y = math.copysign(
            math.sqrt(math.sqrt(t * t - ln1mx2 / a) - t), x
        )
        for _ in range(3):
            err = math.erf(y) - x
            y -= err / (
                2.0 / math.sqrt(math.pi) * math.exp(-y * y)
            )
        return y

    # erf/erfc/lgamma/tgamma/erfInv have no Catalyst spelling and
    # numpy ships none either — libm via math.*, Arrow-batched
    # transfer
    for ch_name, fn in (
        ("ch_erf", math.erf),
        ("ch_erfc", math.erfc),
        ("ch_lgamma", math.lgamma),
        ("ch_tgamma", math.gamma),
        ("ch_erfinv", _erfinv),
    ):
        udfs.append((
            ch_name, pandas_udf(DoubleType())(_unary_math(fn))
        ))

    import unicodedata

    @pandas_udf(StringType())
    def ch_normalize_utf8(s: pd.Series, form: pd.Series) -> pd.Series:
        # Unicode normalization (NFC/NFD/NFKC/NFKD) — same tables CH
        # links (ICU) for the canonical/compatibility forms; the form
        # argument is a per-row constant emitted by the transpiler
        return pd.Series(
            [
                None if v is None
                else unicodedata.normalize(f, v)
                for v, f in zip(s, form)
            ],
            dtype="object",
        )

    udfs.append(("ch_normalize_utf8", ch_normalize_utf8))

    import encodings.idna as _idna

    def _idn_one(v: str, mode: str) -> str:
        # plain punycode has no label splitting or xn-- prefix;
        # IDNA (2003, the nameprep tables CH's example outputs match:
        # straße → strasse) applies per dot-label with ASCII labels
        # passing through
        if mode in ("penc",):
            return v.encode("punycode").decode("ascii")
        if mode in ("pdec", "ptry"):
            return v.encode("ascii").decode("punycode")
        if mode in ("ienc", "itry"):
            return ".".join(
                _idna.ToASCII(lbl).decode("ascii") if lbl else ""
                for lbl in v.split(".")
            )

        # idnaDecode: ClickHouse has NO try-variant because decode
        # never throws — an invalid/undecodable label is returned
        # unchanged (ADVICE r9).  Catch per LABEL, not per value, so
        # valid labels around a broken one still decode.
        def _to_unicode(lbl: str) -> str:
            if not lbl:
                return ""
            try:
                return _idna.ToUnicode(lbl)
            except (UnicodeError, ValueError):
                return lbl

        return ".".join(_to_unicode(lbl) for lbl in v.split("."))

    @pandas_udf(StringType())
    def ch_idn(s: pd.Series, mode: pd.Series) -> pd.Series:
        """punycode/IDNA family over Python's built-in codecs (RFC
        3492 / IDNA2003 nameprep — the same tables ClickHouse's ICU
        build uses for these functions).  ``mode`` is a per-row
        constant from the transpiler; try-modes return '' on invalid
        input (the CH contract), strict modes re-raise (loud task
        failure, CH throws there too)."""
        out = []
        for v, m in zip(s, mode):
            if v is None:
                out.append(None)
                continue
            try:
                out.append(_idn_one(v, m))
            except (UnicodeError, ValueError) as e:
                if m in ("ptry", "itry"):
                    out.append("")
                else:
                    raise ValueError(
                        f"ch_idn {m}: invalid input {v!r} "
                        f"(ClickHouse throws here too): {e}"
                    ) from e
        return pd.Series(out, dtype="object")

    udfs.append(("ch_idn", ch_idn))

    import json as _json

    def _merge_patch(t, p):
        # RFC 7386: a non-object patch replaces; null patch values
        # delete; objects merge recursively (target key order kept,
        # patch-added keys appended — the CH/DuckDB output order)
        if not isinstance(p, dict):
            return p
        if not isinstance(t, dict):
            t = {}
        for k, v in p.items():
            if v is None:
                t.pop(k, None)
            else:
                t[k] = _merge_patch(t.get(k), v)
        return t

    @pandas_udf(StringType())
    def ch_json_merge_patch(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ta, tb in zip(a, b):
            if ta is None or tb is None:
                out.append(None)
                continue
            try:
                merged = _merge_patch(_json.loads(ta), _json.loads(tb))
            except ValueError as e:
                raise ValueError(
                    f"JSONMergePatch: invalid JSON input "
                    f"(ClickHouse throws here too): {e}"
                ) from e
            out.append(
                _json.dumps(
                    merged, separators=(",", ":"), ensure_ascii=False
                )
            )
        return pd.Series(out, dtype="object")

    udfs.append(("ch_json_merge_patch", ch_json_merge_patch))

    def _json_type(v) -> str:
        # bool BEFORE int (bool subclasses int in Python); integer
        # width classification follows simdjson: unsigned only when
        # the value exceeds int64 range
        if v is None:
            return "Null"
        if isinstance(v, bool):
            return "Bool"
        if isinstance(v, dict):
            return "Object"
        if isinstance(v, list):
            return "Array"
        if isinstance(v, str):
            return "String"
        if isinstance(v, int):
            return "UInt64" if v > (1 << 63) - 1 else "Int64"
        return "Double"

    @pandas_udf(StringType())
    def ch_json_type(s: pd.Series) -> pd.Series:
        """Root JSON type name (CH JSONType spelling: Object/Array/
        String/Int64/UInt64/Double/Bool/Null); unparseable input
        yields 'Null', the miss marker these functions use instead of
        throwing."""
        out = []
        for v in s:
            if v is None:
                out.append(None)
                continue
            try:
                out.append(_json_type(_json.loads(v)))
            except ValueError:
                out.append("Null")
        return pd.Series(out, dtype="object")

    udfs.append(("ch_json_type", ch_json_type))

    # --- path-form JSON introspection (VERDICT r9 item 6) -------------
    # The r9 root-form JSONType classifier, extended through CH's
    # indices_or_keys path walk: a string step accesses a member by
    # key; an integer step accesses the n-th member (1-based, negative
    # from the end) of an object OR array — the documented CH
    # contract.  Steps arrive as a transpile-time JSON-encoded list
    # (the dialect requires literal steps; get_json_object's paths are
    # literal-only for the same reason), so the walk runs on parsed
    # stdlib values and the "5"-vs-5 raw-text ambiguity of
    # get_json_object never arises.  A miss at any step yields the
    # family's miss marker ('Null' / [] / NULL) instead of throwing,
    # like every CH JSON* function.

    def _walk_steps(doc, steps: list):
        for st in steps:
            if isinstance(st, str):
                if not isinstance(doc, dict) or st not in doc:
                    return None, False
                doc = doc[st]
            else:
                seq = (
                    list(doc.values()) if isinstance(doc, dict)
                    else doc if isinstance(doc, list) else None
                )
                if seq is None or st == 0 or abs(st) > len(seq):
                    return None, False
                doc = seq[st - 1 if st > 0 else st]
        return doc, True

    def _json_path_udf(per_value, dtype):
        def apply(s: pd.Series, steps: pd.Series) -> pd.Series:
            out = []
            for v, stp in zip(s, steps):
                if v is None:
                    out.append(None)
                    continue
                try:
                    node, ok = _walk_steps(
                        _json.loads(v), _json.loads(stp)
                    )
                except ValueError:
                    node, ok = None, False
                out.append(per_value(node, ok))
            return pd.Series(out, dtype=dtype)

        return apply

    udfs.append((
        "ch_json_type_path",
        pandas_udf(StringType())(_json_path_udf(
            lambda node, ok: _json_type(node) if ok else "Null",
            "object",
        )),
    ))

    def _all_paths(node, ok):
        # dot-joined object-key chains to every leaf (arrays and
        # scalars are leaves — CH's JSON dynamic paths are key
        # chains); scalar/array root → [] like CH; sorted for a
        # deterministic gate (CH reports storage order)
        if not ok or not isinstance(node, dict):
            return []
        paths: list[str] = []

        def rec(d: dict, prefix: str) -> None:
            for k, v in d.items():
                p = f"{prefix}.{k}" if prefix else k
                if isinstance(v, dict) and v:
                    rec(v, p)
                else:
                    paths.append(p)

        rec(node, "")
        return sorted(paths)

    udfs.append((
        "ch_json_all_paths",
        pandas_udf(ArrayType(StringType()))(
            _json_path_udf(_all_paths, "object")
        ),
    ))

    def _kv_raw(node, ok):
        # top-level key → raw compact JSON value, DOCUMENT order (the
        # CH Array(Tuple(String, String)) contract); compact
        # separators match DuckDB's json text form (the r9
        # JSONMergePatch precedent)
        if not ok or not isinstance(node, dict):
            return []
        return [
            {
                "k": k,
                "v": _json.dumps(
                    v, separators=(",", ":"), ensure_ascii=False
                ),
            }
            for k, v in node.items()
        ]

    kv_pairs = ArrayType(StructType([
        StructField("k", StringType()), StructField("v", StringType()),
    ]))
    udfs.append((
        "ch_json_kv_raw",
        pandas_udf(kv_pairs)(_json_path_udf(_kv_raw, "object")),
    ))

    # base58 (Bitcoin alphabet, the CH base58Encode/Decode contract):
    # pure public algorithm over the string's UTF-8 bytes — leading
    # zero bytes map to leading '1's.  Arrow-batched like the other
    # codec UDFs; decode throws on invalid input like CH.
    _B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

    def _b58enc(s: str) -> str:
        raw = s.encode("utf-8")
        n = int.from_bytes(raw, "big")
        out = []
        while n:
            n, r = divmod(n, 58)
            out.append(_B58[r])
        pad = len(raw) - len(raw.lstrip(b"\0"))
        return "1" * pad + "".join(reversed(out))

    def _b58dec(s: str) -> str:
        n = 0
        for c in s:
            i = _B58.find(c)
            if i < 0:
                raise ValueError(
                    f"base58Decode: invalid character {c!r} "
                    "(ClickHouse throws here too)"
                )
            n = n * 58 + i
        body = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
        pad = len(s) - len(s.lstrip("1"))
        return (b"\0" * pad + body).decode("utf-8")

    def _unary_str(fn):
        def apply(x: pd.Series) -> pd.Series:
            return pd.Series(
                [None if v is None else fn(v) for v in x],
                dtype="object",
            )

        return apply

    import re as _re_mod

    def _regexp_sub(count: int):
        def _cvt0(rv: str) -> str:
            # CH's whole-match backref is \0; Python re reads \0 as
            # a NUL escape — spell it \g<0> (code-review r13b).  A
            # char scan with a backslash-run counter: converts every
            # \0 behind an EVEN run (so \\0 = escaped backslash +
            # '0' survives), including ADJACENT backrefs \0\0 that a
            # single regex pass misses (code-review r13c)
            out: list[str] = []
            i = 0
            bs = 0
            while i < len(rv):
                c = rv[i]
                if c == "\\":
                    if (
                        i + 1 < len(rv) and rv[i + 1] == "0"
                        and bs % 2 == 0
                    ):
                        out.append("\\g<0>")
                        i += 2
                        bs = 0
                        continue
                    out.append(c)
                    bs += 1
                else:
                    out.append(c)
                    bs = 0
                i += 1
            return "".join(out)

        def _sub(pv: str, rv: str, hv: str) -> str:
            return _re_mod.sub(pv, _cvt0(rv), hv, count=count)

        def apply(
            h: pd.Series, p: pd.Series, r: pd.Series
        ) -> pd.Series:
            return pd.Series(
                [
                    None
                    if hv is None or pv is None or rv is None
                    else _sub(pv, rv, hv)
                    for hv, pv, rv in zip(h, p, r)
                ],
                dtype="object",
            )

        return apply

    # replaceRegexpOne (first match only — Java has no builtin
    # replaceFirst in Spark SQL) and the backref-bearing
    # replaceRegexpAll tier: CH replacement backrefs are \N, which
    # Python's re.sub reads natively (Java's regexp_replace reads
    # $N) — r13 wave 3
    udfs.append((
        "ch_replace_regexp_one",
        pandas_udf(StringType())(_regexp_sub(1)),
    ))
    udfs.append((
        "ch_replace_regexp_all_br",
        pandas_udf(StringType())(_regexp_sub(0)),
    ))

    udfs.append((
        "ch_base58_encode", pandas_udf(StringType())(_unary_str(_b58enc))
    ))
    udfs.append((
        "ch_base58_decode", pandas_udf(StringType())(_unary_str(_b58dec))
    ))

    def _b58try(s: str):
        # tryBase58Decode (r12 batch 16): NULL on invalid, never throws
        try:
            return _b58dec(s)
        except (ValueError, UnicodeDecodeError):
            return None

    udfs.append((
        "ch_try_base58_decode", pandas_udf(StringType())(_unary_str(_b58try))
    ))

    # RFC 4648 base32 (r11 audit batch 12) — same Arrow-codec seam as
    # base58 above; CH returns padded upper-case output and throws on
    # invalid input, which b32encode/b32decode both match
    def _b32enc(s: str) -> str:
        import base64 as _b64

        return _b64.b32encode(s.encode("utf-8")).decode("ascii")

    def _b32dec(s: str) -> str:
        import base64 as _b64

        try:
            return _b64.b32decode(s.encode("ascii")).decode("utf-8")
        except Exception as exc:
            raise ValueError(f"base32Decode: invalid input: {exc}")

    def _b32trydec(s: str) -> str | None:
        import base64 as _b64

        try:
            return _b64.b32decode(s.encode("ascii")).decode("utf-8")
        except Exception:
            return None

    udfs.append((
        "ch_base32_encode", pandas_udf(StringType())(_unary_str(_b32enc))
    ))
    udfs.append((
        "ch_base32_decode", pandas_udf(StringType())(_unary_str(_b32dec))
    ))
    udfs.append((
        "ch_base32_trydecode",
        pandas_udf(StringType())(_unary_str(_b32trydec)),
    ))

    def _walk_jsonpath(doc, steps: list):
        # JSONPath semantics, unlike the indices_or_keys walk above:
        # an integer subscript indexes LISTS ONLY — '$.a[0]' on an
        # object member misses, it never means "first member by
        # position" (code-review r10)
        for st in steps:
            if isinstance(st, str):
                if not isinstance(doc, dict) or st not in doc:
                    return None, False
                doc = doc[st]
            else:
                if not isinstance(doc, list) or not (
                    1 <= st <= len(doc)
                ):
                    return None, False
                doc = doc[st - 1]
        return doc, True

    @pandas_udf(StringType())
    def ch_json_query(s: pd.Series, steps: pd.Series) -> pd.Series:
        """CH JSON_QUERY wraps the match in a one-element JSON array;
        the stdlib walk sees PARSED values, so a string scalar whose
        text looks like a number ("5") keeps its quotes — the residual
        get_json_object ambiguity (dialect JSON_QUERY docstring)
        closed for literal simple paths (r10 stretch)."""
        out = []
        for v, stp in zip(s, steps):
            if v is None:
                out.append(None)
                continue
            try:
                node, ok = _walk_jsonpath(
                    _json.loads(v), _json.loads(stp)
                )
            except ValueError:
                node, ok = None, False
            out.append(
                None if not ok
                else "[" + _json.dumps(
                    node, separators=(",", ":"), ensure_ascii=False
                ) + "]"
            )
        return pd.Series(out, dtype="object")

    udfs.append(("ch_json_query", ch_json_query))

    # --- fuzzy string metrics (VERDICT r9 item 5) ---------------------
    # damerauLevenshteinDistance / jaroSimilarity /
    # jaroWinklerSimilarity: textbook public algorithms (Damerau 1964 /
    # Jaro 1989 / Winkler 1990, the Wikipedia reference forms) with no
    # Catalyst spelling — Arrow-batched like erf/punycode above.
    # ClickHouse semantics (its StringDistance.h operates on BYTES):
    # we compute char-level, identical for ASCII inputs; the UTF-8
    # divergence class is the same one editDistance→levenshtein
    # already documents.  DuckDB ships the same three metrics
    # (damerau_levenshtein / jaro_similarity / jaro_winkler_similarity)
    # which is what the dialect_fuzzy_family gate replays.

    def _dam_lev(a: str, b: str) -> int:
        # UNRESTRICTED Damerau-Levenshtein (transpositions may be
        # edited afterwards — 'CA'→'ABC' is 2, not OSA's 3): the
        # char-last-seen table form from the standard reference.
        da: dict[str, int] = {}
        la, lb = len(a), len(b)
        maxd = la + lb
        d = [[maxd] * (lb + 2) for _ in range(la + 2)]
        for i in range(la + 1):
            d[i + 1][1] = i
        for j in range(lb + 1):
            d[1][j + 1] = j
        for i in range(1, la + 1):
            db = 0
            for j in range(1, lb + 1):
                k = da.get(b[j - 1], 0)
                l_ = db
                if a[i - 1] == b[j - 1]:
                    cost = 0
                    db = j
                else:
                    cost = 1
                d[i + 1][j + 1] = min(
                    d[i][j] + cost,          # substitute
                    d[i + 1][j] + 1,          # insert
                    d[i][j + 1] + 1,          # delete
                    d[k][l_] + (i - k - 1) + 1 + (j - l_ - 1),
                )
            da[a[i - 1]] = i
        return d[la + 1][lb + 1]

    def _jaro(a: str, b: str) -> float:
        la, lb = len(a), len(b)
        if la == 0 and lb == 0:
            return 1.0
        if la == 0 or lb == 0:
            return 0.0
        # clamp at 0: max-length-1 inputs would get window -1 and
        # never match ('a' vs 'a' must be 1.0 — code-review r10)
        window = max(max(la, lb) // 2 - 1, 0)
        a_match = [False] * la
        b_match = [False] * lb
        m = 0
        for i in range(la):
            lo, hi = max(0, i - window), min(lb, i + window + 1)
            for j in range(lo, hi):
                if not b_match[j] and a[i] == b[j]:
                    a_match[i] = b_match[j] = True
                    m += 1
                    break
        if m == 0:
            return 0.0
        t = 0
        j = 0
        for i in range(la):
            if a_match[i]:
                while not b_match[j]:
                    j += 1
                if a[i] != b[j]:
                    t += 1
                j += 1
        t //= 2
        return (m / la + m / lb + (m - t) / m) / 3.0

    def _jaro_winkler(a: str, b: str) -> float:
        # standard Winkler boost: prefix ≤ 4, scale 0.1, applied only
        # above the 0.7 boost threshold — CH's StringDistance and
        # DuckDB both gate on it (verified: DuckDB returns plain jaro
        # 0.667 for ('abcd','abxx') despite the 2-char prefix;
        # code-review r10)
        sim = _jaro(a, b)
        if sim <= 0.7:
            return sim
        prefix = 0
        for x, y in zip(a[:4], b[:4]):
            if x != y:
                break
            prefix += 1
        return sim + prefix * 0.1 * (1.0 - sim)

    def _binary_str(fn, dtype):
        def apply(a: pd.Series, b: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    None if va is None or vb is None else fn(va, vb)
                    for va, vb in zip(a, b)
                ],
                dtype=dtype,
            )

        return apply

    udfs.append((
        "ch_damerau_levenshtein",
        pandas_udf(LongType())(_binary_str(_dam_lev, "object")),
    ))
    udfs.append((
        "ch_jaro", pandas_udf(DoubleType())(_binary_str(_jaro, "object"))
    ))
    udfs.append((
        "ch_jaro_winkler",
        pandas_udf(DoubleType())(_binary_str(_jaro_winkler, "object")),
    ))

    # SipHash-2-4 (r14, VERDICT r13 item 6): the public keyed MAC
    # (Aumasson & Bernstein 2012) over UTF-8 string bytes —
    # BIT-EXACT to ClickHouse's sipHash64Keyed for String data and
    # to the paper's reference vectors (pinned in tests).  Arrow
    # batch transfer; pure-int Python per row — a MAC register, not
    # a bucketing hash (xxhash64 keeps the hot role-parity path).
    _M64 = (1 << 64) - 1

    def _rotl(x: int, b: int) -> int:
        return ((x << b) | (x >> (64 - b))) & _M64

    def _sipround(v0, v1, v2, v3):
        v0 = (v0 + v1) & _M64
        v1 = _rotl(v1, 13) ^ v0
        v0 = _rotl(v0, 32)
        v2 = (v2 + v3) & _M64
        v3 = _rotl(v3, 16) ^ v2
        v0 = (v0 + v3) & _M64
        v3 = _rotl(v3, 21) ^ v0
        v2 = (v2 + v1) & _M64
        v1 = _rotl(v1, 17) ^ v2
        v2 = _rotl(v2, 32)
        return v0, v1, v2, v3

    def _sip_absorb(k0: int, k1: int, data: bytes, xor_ee: bool):
        """SipHash-2-4 message absorption through the length block;
        returns the (v0, v1, v2, v3) state ready for finalization.
        ``xor_ee`` applies the 128-bit REFERENCE variant's
        ``v1 ^= 0xEE`` initialization (Aumasson & Bernstein 2012,
        reference impl's DOUBLE path); the 64-bit and ClickHouse
        legacy-128 paths skip it."""
        v0 = k0 ^ 0x736F6D6570736575
        v1 = k1 ^ 0x646F72616E646F6D
        v2 = k0 ^ 0x6C7967656E657261
        v3 = k1 ^ 0x7465646279746573
        if xor_ee:
            v1 ^= 0xEE
        i = 0
        while i + 8 <= len(data):
            m = int.from_bytes(data[i : i + 8], "little")
            i += 8
            v3 ^= m
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
            v0 ^= m
        tail = data[i:] + b"\x00" * (8 - (len(data) - i))
        m = ((len(data) & 0xFF) << 56) | int.from_bytes(
            tail[:7] + b"\x00", "little"
        )
        v3 ^= m
        v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
        v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
        v0 ^= m
        return v0, v1, v2, v3

    def _siphash24(k0: int, k1: int, data: bytes) -> int:
        v0, v1, v2, v3 = _sip_absorb(k0, k1, data, xor_ee=False)
        v2 ^= 0xFF
        for _ in range(4):
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
        return (v0 ^ v1 ^ v2 ^ v3) & _M64

    def _siphash128_legacy(k0: int, k1: int, data: bytes) -> bytes:
        """ClickHouse's sipHash128: the 64-bit finalization, then
        emit (v0^v1, v2^v3) little-endian — NOT the paper's 128-bit
        construction (ClickHouse src/Common/SipHash.h get128;
        its docs call out the divergence, hence the separate
        sipHash128Reference).  Invariant used by the tests: the XOR
        of the two halves is exactly sipHash64 of the same input."""
        v0, v1, v2, v3 = _sip_absorb(k0, k1, data, xor_ee=False)
        v2 ^= 0xFF
        for _ in range(4):
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
        return ((v0 ^ v1) & _M64).to_bytes(8, "little") + (
            (v2 ^ v3) & _M64
        ).to_bytes(8, "little")

    def _siphash128_ref(k0: int, k1: int, data: bytes) -> bytes:
        """The paper's 128-bit SipHash-2-4 (reference impl DOUBLE
        path): v1^=0xEE at init, first finalizer XORs 0xEE, second
        finalizer XORs 0xDD into v1 — pinned against the reference
        repo's vectors_sip128 in tests."""
        v0, v1, v2, v3 = _sip_absorb(k0, k1, data, xor_ee=True)
        v2 ^= 0xEE
        for _ in range(4):
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
        b0 = (v0 ^ v1 ^ v2 ^ v3) & _M64
        v1 ^= 0xDD
        for _ in range(4):
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
        b1 = (v0 ^ v1 ^ v2 ^ v3) & _M64
        return b0.to_bytes(8, "little") + b1.to_bytes(8, "little")

    def _u64_key(t: str) -> int:
        # keys arrive as STRING (dialect.py CASTs them): decimal
        # text parses exactly over the full UInt64 range, where a
        # nullable BIGINT batch would widen to float64 and int()
        # would round >53-bit keys (ADVICE r14, medium)
        try:
            return int(t) & _M64
        except ValueError:
            # scientific/decimal text from a wider numeric key cast
            # — Decimal keeps it exact (no float64 rounding), but a
            # NON-integral key must refuse: ClickHouse rejects a
            # Float64 key tuple outright, and silently truncating
            # would produce plausible-looking wrong MACs
            # (code-review r15a)
            from decimal import Decimal

            d = Decimal(t)
            if d != d.to_integral_value():
                raise ValueError(
                    "sipHash keyed: (k0, k1) must be integers "
                    f"(UInt64) — got {t!r}"
                )
            return int(d) & _M64

    @pandas_udf(LongType())
    def ch_siphash64_keyed(
        k0: pd.Series, k1: pd.Series, s: pd.Series
    ) -> pd.Series:
        out = []
        for a, b, v in zip(k0, k1, s):
            # pd.isna covers both None (object/string batches) and
            # NaN, whichever representation pandas delivers
            if pd.isna(a) or pd.isna(b) or v is None:
                out.append(None)
                continue
            h = _siphash24(
                _u64_key(a), _u64_key(b), v.encode("utf-8")
            )
            # UInt64 → two's-complement BIGINT (the repo's hash
            # convention: values >= 2^63 read negative)
            out.append(h - (1 << 64) if h >= (1 << 63) else h)
        return pd.Series(out, dtype="object")

    udfs.append(("ch_siphash64_keyed", ch_siphash64_keyed))

    def _sip128_udf(core):
        @pandas_udf(BinaryType())
        def _f(k0: pd.Series, k1: pd.Series, s: pd.Series) -> pd.Series:
            out = []
            for a, b, v in zip(k0, k1, s):
                if pd.isna(a) or pd.isna(b) or v is None:
                    out.append(None)
                    continue
                out.append(core(
                    _u64_key(a), _u64_key(b), v.encode("utf-8")
                ))
            return pd.Series(out, dtype="object")
        return _f

    # 128-bit family (r15, VERDICT r14 item 2): BINARY(16) keeps
    # ClickHouse's FixedString(16) byte contract — hex() composes on
    # top exactly as in CH (MIGRATION.md documents the type seam)
    udfs.append((
        "ch_siphash128_keyed", _sip128_udf(_siphash128_legacy)
    ))
    udfs.append((
        "ch_siphash128_ref", _sip128_udf(_siphash128_ref)
    ))
    return udfs


# --- gated proof: a query written verbatim in the ClickHouse dialect ---

_DIALECT_SQL = """
SELECT toYYYYMM(CAST(o_orderdate AS DATE)) AS ym,
       toISOWeek(CAST(o_orderdate AS DATE)) AS iso_week,
       toDayOfWeek(toStartOfMonth(CAST(o_orderdate AS DATE))) AS month_start_dow,
       count(*) AS n_orders,
       sum(CAST(notEmpty(o_orderpriority) AS BIGINT)) AS n_with_priority,
       {revenue} AS total_price
FROM orders
WHERE toYear(CAST(o_orderdate AS DATE)) = 1995
  AND modulo(o_orderkey, 2) = 0
GROUP BY ym, iso_week, month_start_dow
ORDER BY ym, iso_week
"""


def q_clickhouse_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB-style rollup written with ClickHouse function names, run
    through the front door's ``transpile``; the oracle is the same
    query spelled in ANSI/DuckDB built-ins."""
    from clickhouse_vs_dbt_spark.dialect import transpile  # dialect imports us

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(transpile(_DIALECT_SQL.format(revenue=sql_dsum("o_totalprice"))))


O_CLICKHOUSE_DIALECT = f"""
SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
       CAST(week(o_orderdate) AS INT) AS iso_week,
       CAST(isodow(date_trunc('month', o_orderdate)) AS INT) AS month_start_dow,
       count(*) AS n_orders,
       CAST(SUM(CASE WHEN length(o_orderpriority) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_priority,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
WHERE year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
GROUP BY ym, iso_week, month_start_dow
ORDER BY ym, iso_week
"""


QUERIES = {"clickhouse_dialect_rollup": q_clickhouse_dialect}
ORACLES = {"clickhouse_dialect_rollup": O_CLICKHOUSE_DIALECT}
