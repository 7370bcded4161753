"""ClickHouse-SQL -> Spark SQL textual translator.

Scope: the dialect surface that differs between the two SQLs —
function names (SURVEY.md §2.8 mapping table), parametric aggregates
``f(p)(args)``, ``countIf``-style combinator forms, ``LIMIT n BY``,
trailing ``FORMAT``/``SETTINGS`` clauses. Standard SQL (joins, group
by, windows, CTEs) passes through untouched — Catalyst's parser accepts
it as-is.

The translator is a recursive function-call rewriter over a
string-literal-aware scanner, not a full grammar: each known CH
function's argument list is parsed with balanced parentheses, arguments
are translated recursively, and the mapped Spark form is emitted.
Unknown functions pass through unchanged (Spark shares most ANSI
names). Reference parser entry: src/Parsers/ParserQuery.h:9; the ~35
QueryTree rewrite passes this replaces textually are listed in
SURVEY.md §4.1.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

# ---------------------------------------------------------------- rules
# Each rule: callable(list[str]) -> str (args already translated).


def _fn(name):
    return lambda a: f"{name}({', '.join(a)})"


def _bm_arg(x: str) -> str:
    """Bitmap-state argument: a NULL state (non-matched outer-join
    side) is the reference's type DEFAULT — the empty bitmap
    (join_use_nulls=0 fill; golden 01552_impl_aggfunc_cloneresize) —
    never Spark's size(NULL) = -1."""
    return f"coalesce({x}, array())"


def _variant_pred(x: str, ch_t: str) -> str | None:
    """Best-effort-parse predicate for one Variant alternative
    (reference src/DataTypes/DataTypeVariant.cpp String→Variant cast:
    each non-String type is tried, String is the fallback)."""
    t = ch_t.strip()
    low = t.lower()
    if re.fullmatch(r"uint\d+", low):
        return (f"(try_cast({x} AS BIGINT) IS NOT NULL "
                f"AND try_cast({x} AS BIGINT) >= 0)")
    if re.fullmatch(r"int\d+", low):
        return f"(try_cast({x} AS BIGINT) IS NOT NULL)"
    if re.fullmatch(r"float\d+", low):
        return f"(try_cast({x} AS DOUBLE) IS NOT NULL)"
    if low == "bool":
        return f"(lower(CAST({x} AS STRING)) IN ('true', 'false'))"
    if low.startswith("datetime"):
        return (f"(CAST({x} AS STRING) RLIKE "
                f"'^\\\\d{{4}}-\\\\d{{2}}-\\\\d{{2}}[ T]' AND "
                f"try_cast({x} AS TIMESTAMP) IS NOT NULL)")
    if low.startswith("date"):
        return (f"(CAST({x} AS STRING) RLIKE "
                f"'^\\\\d{{4}}-\\\\d{{2}}-\\\\d{{2}}$')")
    if low.startswith("array"):
        return (f"(trim(CAST({x} AS STRING)) RLIKE '^\\\\[.*\\\\]$')")
    if low.startswith("uuid"):
        return (f"(CAST({x} AS STRING) RLIKE "
                f"'^[0-9a-fA-F-]{{36}}$')")
    return None  # String / unsupported -> fallback handling


def _variant_cast_sql(x: str, types_raw: str) -> str:
    """CAST(x, 'Variant(T1, T2, ...)') → a (val STRING, typ STRING)
    carrier struct: best-effort parse picks the first matching
    alternative, String is the fallback, no match → NULL value with
    type 'None' (reference DataTypeVariant String conversion)."""
    types = [t.strip() for t in _split_top_commas(types_raw)]
    branches = []
    has_string = any(
        t.lower().startswith(("string", "fixedstring",
                              "lowcardinality")) for t in types)
    for t in types:
        pred = _variant_pred(x, t)
        if pred is not None:
            branches.append(f"WHEN {pred} THEN '{t}'")
    fallback = "'String'" if has_string else "NULL"
    typ = (f"CASE WHEN CAST({x} AS STRING) IS NULL THEN 'None' "
           + " ".join(branches) + f" ELSE {fallback} END")
    return (f"named_struct('val', CASE WHEN ({typ}) IS NULL THEN NULL "
            f"ELSE CAST({x} AS STRING) END, 'typ', "
            f"coalesce({typ}, 'None'))")


_MAKE_INTERVAL_POS = {"year": 0, "quarter": 1, "month": 1, "week": 2,
                      "day": 3, "hour": 4, "minute": 5, "second": 6}


def _date_add_unit_sql(a, op: str) -> str:
    """DATE_ADD(unit, n, ts) — n may be a quoted number or ANY scalar
    expression including a subquery (golden 01523 `DATE_ADD(hour,
    (SELECT 1), ts)`); Spark's INTERVAL literal only takes literal
    counts, so non-literal counts go through make_interval."""
    unit = a[0].strip().strip("'").lower()
    n = a[1].strip().strip("'")
    if re.fullmatch(r"-?\d+", n):
        if unit == "quarter":
            return f"({a[2]} {op} INTERVAL {3 * int(n)} month)"
        return f"({a[2]} {op} INTERVAL {n} {unit})"
    pos = _MAKE_INTERVAL_POS.get(unit)
    if pos is None:
        return f"({a[2]} {op} INTERVAL {a[1]} {unit})"
    cnt = f"({a[1]})" if unit != "quarter" else f"(3 * ({a[1]}))"
    args = ["0"] * 7
    args[pos] = cnt
    return f"({a[2]} {op} make_interval({', '.join(args)}))"


def _cast_rule(a):
    """Two-arg cast(x, 'Type') (src/Functions/CastOverloadResolver.cpp).
    A Map source cast to Array(Tuple(...)) converts via map_entries
    (the reference's Map→Array-of-pairs cast); Spark's struct cast then
    renames/retypes the pair fields positionally."""
    if len(a) == 1:
        return f"CAST({a[0]})"
    raw = a[1].strip()
    while raw.startswith("(") and raw.endswith(")"):
        raw = raw[1:-1].strip()
    raw = raw.strip().strip("'\"")
    vm = re.fullmatch(r"(?is)Variant\s*\((.*)\)", raw)
    if vm:
        return _variant_cast_sql(a[0], vm.group(1))
    ty = _ch_type_to_sql(a[1])
    src = a[0].strip()
    if re.fullmatch(r"(?i)u?int(?:64|128|256)", raw) \
            and ty.upper().startswith("DECIMAL"):
        # decimal-carrier int targets truncate float inputs
        return _trunc_int_cast_sql(a[0], ty)
    if re.match(r"(?i)\s*array\s*<\s*struct\b", ty) and re.match(
            r"(?i)\(*\s*(materialize\s*\(\s*)?map(_from_arrays|"
            r"_from_entries|_concat)?\s*\(", src):
        return f"CAST(map_entries({a[0]}) AS {ty})"
    if re.match(r"(?i)\s*(array|map)\s*<", ty) \
            and re.fullmatch(r"'(?:[^'\\]|\\.)*'", src):
        # string literal → collection: the reference PARSES the text
        # as a field literal (CastOverloadResolver through
        # parseReadBuffer); Spark's cast rejects string→array —
        # from_json handles the bracketed text (golden 02845
        # arrayShiftLeft(CAST('[1,…]', 'Array(UInt16)'), …))
        return f"from_json({src}, '{ty}')"
    return f"CAST({a[0]} AS {ty})"


def _in_value_list(rhs: str) -> str | None:
    """Translate a functional-in RHS (array(...)/struct(...)/(...)
    literal set) to an IN value list; None = provably empty set."""
    r = rhs.strip()
    m = re.fullmatch(r"(?is)(?:array|struct)\s*\((.*)\)", r)
    if m is not None:
        inner = m.group(1).strip()
        return None if not inner else f"({inner})"
    if r.startswith("("):
        return r
    return f"({r})"


def _pyre_to_java(pattern_arg: str) -> str:
    """RE2/PCRE named groups ``(?P<name>...)`` → Java's ``(?<name>...)``
    for literal pattern arguments (the reference's regexps are RE2)."""
    p = pattern_arg.strip()
    if len(p) >= 2 and p[0] == "'" and p[-1] == "'":
        return "'" + p[1:-1].replace("(?P<", "(?<") + "'"
    return pattern_arg


def _re_group_idx(pattern_arg: str) -> int:
    """CH extract() returns the first capture group when the pattern
    has one, else the whole match (src/Functions/extract.cpp) — pick
    Spark's regexp_extract idx accordingly for literal patterns."""
    p = pattern_arg.strip()
    if len(p) >= 2 and p[0] == "'" and p[-1] == "'":
        body = p[1:-1]
        has_group = re.search(r"(?<!\\)\((?!\?)", body)
        return 1 if has_group else 0
    return 1  # non-literal pattern: keep the historical contract


def _cast(t):
    return lambda a: f"CAST({a[0]} AS {t})"


def _trunc_int_cast_sql(x: str, ty: str) -> str:
    """Float→wide-int conversion over a DECIMAL carrier: the reference
    TRUNCATES toward zero (FunctionsConversion.cpp static_cast), but
    Spark's fractional→DECIMAL cast rounds HALF_UP — strip the
    fraction first via ``x - (x % 1)`` (exact in IEEE arithmetic and
    in decimal arithmetic, stays in the input type so UInt64-scale
    values don't overflow an intermediate BIGINT).  Non-fractional
    inputs (strings, integers, scale-0 decimals) keep the exact direct
    cast — a 20-digit string must not round-trip through DOUBLE."""
    m = re.fullmatch(r"\s*(-?\d+)(?:\.\d*)?\s*", x)
    if m:
        return f"CAST({m.group(1)} AS {ty})"
    t = f"typeof({x})"
    return (f"(CASE WHEN {t} IN ('double', 'float') OR "
            f"({t} LIKE 'decimal%' AND {t} NOT LIKE '%,0)') "
            f"THEN CAST(({x}) - (({x}) % 1) AS {ty}) "
            f"ELSE CAST({x} AS {ty}) END)")


def _trunc_cast(t):
    return lambda a: _trunc_int_cast_sql(a[0], t)


def _lam_parts(f: str):
    """Split a lambda text 'vars -> body' (vars possibly
    parenthesized)."""
    m = re.match(r"(?s)^\s*(\(\s*[`\w\s,]+?\s*\)|[`\w]+)\s*->\s*(.*)$",
                 f.strip())
    return (m.group(1).strip(), m.group(2).strip()) if m else None


def _lam_bool(f: str) -> str:
    """CH higher-order lambdas return UInt8 (nonzero = true); Spark's
    filter/exists/forall require BOOLEAN — wrap the body in a cast
    (no-op when it is already boolean)."""
    p = _lam_parts(f)
    if p is None:
        return f
    return f"{p[0]} -> CAST(({p[1]}) AS BOOLEAN)"


def _array_index_rule(a: list, which: int) -> str:
    """arrayFirstIndex/arrayLastIndex(f, arr): 1-based position of the
    first/last element satisfying f, 0 when none (reference
    src/Functions/array/arrayFirstLastIndex.cpp)."""
    name = "arrayFirstIndex" if which == 1 else "arrayLastIndex"
    if len(a) != 2:
        return f"{name}({', '.join(a)})"
    p = _lam_parts(a[0])
    if p is None or "," in p[0]:
        return f"{name}({', '.join(a)})"
    v = p[0].strip("()").strip()
    return (f"coalesce(try_element_at(filter(transform({a[1]}, "
            f"({v}, __i) -> IF(CAST(({p[1]}) AS BOOLEAN), __i + 1, "
            f"CAST(NULL AS INT))), __p -> __p IS NOT NULL), {which}), 0)")


def _num_literal_of(x: str) -> str | None:
    """The numeric value inside a translated scalar argument: a bare
    numeric literal, a quoted numeric string, or a decimal cast of
    either (``CAST('10500000000.1' AS DECIMAL(18,1))``)."""
    x = x.strip()
    if re.fullmatch(r"[-+]?\d+(?:\.\d+)?", x):
        return x
    m = re.fullmatch(r"'([-+]?\d+(?:\.\d+)?)'", x)
    if m:
        return m.group(1)
    m = re.fullmatch(r"(?is)CAST\(\s*'?([-+]?\d+(?:\.\d+)?)'?\s+AS\s+"
                     r"DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)\s*\)", x)
    if m:
        return m.group(1)
    return None


def _dt64_saturating_literal(num: str, scale: int,
                             tz: str | None) -> str:
    """toDateTime[64] over a NUMERIC literal epoch: decimal SECONDS at
    ``scale``, rendered through the reference's LUT-saturating
    component math (golden 01702_toDateTime_from_string_clamping) —
    out-of-range values pin the date to the LUT edge (1900-01-01 /
    2299-12-31), clamp the hour to 23 and keep minute/second modular
    (reference src/Common/DateLUTImpl.h findIndex guess clamp +
    toDateTimeComponents), and negative fractions render positive with
    the whole part floored (src/IO/WriteHelpers.h writeDateTimeText)."""
    import datetime as _dtm
    from decimal import Decimal as _Dec
    eff = min(scale, 6)
    mult = 10 ** eff
    ticks = int(_Dec(num) * mult)           # truncate toward zero
    whole, frac = divmod(ticks, mult)       # floor = adjusted render
    z = _dtm.timezone.utc
    if tz:
        try:
            from zoneinfo import ZoneInfo as _ZI
            z = _ZI(tz.strip().strip("'"))
        except Exception:
            pass
    t0 = int(_dtm.datetime(1900, 1, 1, tzinfo=z).timestamp())
    tl = int(_dtm.datetime(2299, 12, 31, tzinfo=z).timestamp())
    if whole < t0:
        wall = "1900-01-01 00:00:00"
    elif whole >= tl + 86400:
        tin = whole - tl
        h = min(tin // 3600, 23)
        wall = (f"2299-12-31 {h:02d}:{(tin // 60) % 60:02d}:"
                f"{tin % 60:02d}")
    else:
        wall = _dtm.datetime.fromtimestamp(whole, z) \
            .strftime("%Y-%m-%d %H:%M:%S")
    if eff:
        fs = str(frac).rjust(eff, "0")
        if frac:
            from ..sources.tsvrender import DT64_SCALE_HINTS
            DT64_SCALE_HINTS[(wall, int(fs.ljust(6, "0")))] = eff
        wall += "." + fs
    lit = f"TIMESTAMP_NTZ '{wall}'"
    if tz:
        return f"convert_timezone({tz}, {tz}, {lit})"
    return f"CAST({lit} AS TIMESTAMP)"


def _todatetime_numeric_literal(a: list) -> str:
    """CH toDateTime(N[, tz]) over an integer: unix SECONDS clamped to
    the DateTime range [0, UInt32 max] (FunctionsConversion
    saturation)."""
    secs = min(max(int(a[0]), 0), 4294967295)
    if len(a) >= 2 and re.fullmatch(
            r"\s*'[A-Za-z_/+-]*[A-Za-z][A-Za-z_/+-]*'\s*", a[-1]):
        return (f"convert_timezone('UTC', {a[-1]}, "
                f"CAST(to_timestamp({secs}) AS TIMESTAMP_NTZ))")
    return f"to_timestamp({secs})"


def _looks_arrayish(expr: str) -> bool:
    """Textual heuristic: does a translated argument already produce
    an ARRAY (state carrier)?  Used by aggregate rules that must pick
    between a scalar-input and a state-array-input rewrite."""
    return bool(re.search(
        r"(?i)\b(array|arrays?_\w+|collect_list|collect_set|flatten|"
        r"sequence|split|transform|aggregate|zip_with|slice)\s*\(",
        expr)) or bool(re.search(r"(?i)(_state|__state)\b", expr))


def _todate_numeric_literal(a: list) -> str:
    """CH toDate(N[, tz]) over an integer (FunctionsConversion.h):
    N ≤ 65535 reads as DAYS since epoch (negatives clamp to 0);
    larger values read as UNIX SECONDS clamped to the DateTime range
    (UInt32 max → 2106-02-07)."""
    import datetime as _dtm
    n = int(a[0])
    if n < 0:
        n = 0
    if n <= 65535:
        d = _dtm.date(1970, 1, 1) + _dtm.timedelta(days=n)
        return f"DATE '{d.isoformat()}'"
    secs = min(n, 4294967295)
    if len(a) == 2:
        return (f"to_date(convert_timezone('UTC', {a[1]}, "
                f"CAST(to_timestamp({secs}) AS TIMESTAMP_NTZ)))")
    return f"to_date(to_timestamp({secs}))"


def _todate32_numeric_literal(a: list) -> str:
    """CH toDate32(N[, tz]) over an integer (FunctionsConversion.h
    ToDate32Transform32Or64Signed): Date32 spans 1900-01-01 (day
    -25567) .. 2299-12-31; values below DATE_LUT_MAX_EXTEND_DAY_NUM
    (120529) read as DAYS since epoch — NEGATIVES KEPT, floored at
    -25567 (toDate32(-10) = 1969-12-22) — and larger values read as
    UNIX SECONDS clamped to MAX_DATETIME_TIMESTAMP (UInt32 max)."""
    import datetime as _dtm
    n = int(a[0])
    if n < 120529:
        d = _dtm.date(1970, 1, 1) + _dtm.timedelta(days=max(n, -25567))
        return f"DATE '{d.isoformat()}'"
    secs = min(n, 4294967295)
    if len(a) == 2:
        return (f"to_date(convert_timezone('UTC', {a[1]}, "
                f"CAST(to_timestamp({secs}) AS TIMESTAMP_NTZ)))")
    return f"to_date(to_timestamp({secs}))"


def _datediff_rule(a: list) -> str:
    """CH dateDiff(unit, start, end[, tz]) (reference
    src/Functions/dateDiff.cpp): BOUNDARY-CROSSING difference via the
    toRelative*Num pair, not Spark timestampdiff's elapsed-full-units
    — dateDiff('month', '2020-01-31', '2020-02-01') = 1."""
    if len(a) < 3:
        return f"datediff({', '.join(a)})"
    unit = a[0].strip().strip("'\"").lower()
    x, y = a[1], a[2]
    U = {"second": "s", "s": "s", "ss": "s",
         "minute": "mi", "mi": "mi", "n": "mi",
         "hour": "h", "h": "h", "hh": "h",
         "day": "d", "d": "d", "dd": "d",
         "week": "wk", "wk": "wk", "ww": "wk",
         "month": "mm", "mm": "mm", "m": "mm",
         "quarter": "q", "q": "q", "qq": "q",
         "year": "yyyy", "yyyy": "yyyy", "yy": "yyyy",
         "millisecond": "ms", "ms": "ms",
         "microsecond": "us", "us": "us"}
    u = U.get(unit)
    cx, cy = f"CAST({x} AS TIMESTAMP)", f"CAST({y} AS TIMESTAMP)"
    if u == "s":
        return f"(unix_timestamp({cy}) - unix_timestamp({cx}))"
    if u == "mi":
        return (f"(FLOOR(unix_timestamp({cy}) / 60) - "
                f"FLOOR(unix_timestamp({cx}) / 60))")
    if u == "h":
        return (f"(FLOOR(unix_timestamp({cy}) / 3600) - "
                f"FLOOR(unix_timestamp({cx}) / 3600))")
    if u == "d":
        return f"datediff(CAST({y} AS DATE), CAST({x} AS DATE))"
    if u == "wk":
        return (f"CAST(datediff(date_trunc('WEEK', {cy}), "
                f"date_trunc('WEEK', {cx})) / 7 AS BIGINT)")
    if u == "mm":
        return (f"((year({y}) * 12 + month({y})) - "
                f"(year({x}) * 12 + month({x})))")
    if u == "q":
        return (f"((year({y}) * 4 + quarter({y})) - "
                f"(year({x}) * 4 + quarter({x})))")
    if u == "yyyy":
        return f"(year({y}) - year({x}))"
    if u == "ms":
        return f"(unix_millis({cy}) - unix_millis({cx}))"
    if u == "us":
        return f"(unix_micros({cy}) - unix_micros({cx}))"
    return f"datediff({', '.join(a)})"


_RULES: dict = {
    # datetime
    "toyear": _fn("year"), "tomonth": _fn("month"), "todayofmonth": _fn("day"),
    "tohour": _fn("hour"), "tominute": _fn("minute"), "tosecond": _fn("second"),
    "toquarter": _fn("quarter"), "todayofyear": _fn("dayofyear"),
    "todayofweek": lambda a: f"(((dayofweek({a[0]}) + 5) % 7) + 1)",
    # DAYOFWEEK is registered as an alias of toDayOfWeek (Mon=1), NOT
    # MySQL's Sun=1 (reference registerAlias in DateTimeTransforms;
    # golden 01661_test_toDayOfWeek_mysql_compatibility)
    "dayofweek": lambda a: f"(((dayofweek({a[0]}) + 5) % 7) + 1)",
    "tostartofyear": lambda a: f"date_trunc('year', {a[0]})",
    "tostartofquarter": lambda a: f"date_trunc('quarter', {a[0]})",
    "tostartofmonth": lambda a: f"date_trunc('month', {a[0]})",
    "tostartofweek": lambda a: f"date_trunc('week', {a[0]})",
    "tostartofday": lambda a: f"date_trunc('day', {a[0]})",
    "tostartofhour": lambda a: f"date_trunc('hour', {a[0]})",
    "tostartofminute": lambda a: f"date_trunc('minute', {a[0]})",
    "tomonday": lambda a: f"date_trunc('week', {a[0]})",
    # toDate/toDateTime[64](x[, scale][, tz]): the optional trailing
    # string argument is a TIMEZONE, never a format (reference
    # src/Functions/FunctionsConversion.cpp) — interpret x as an epoch
    # or timestamp string and shift its wall clock into tz.  Spark
    # timestamps are µs-fixed; the scale argument only selects display
    # precision in the reference.
    "todate": lambda a: (
        _todate_numeric_literal(a)
        if re.fullmatch(r"\s*-?\d+\s*", a[0])
        else f"to_date(convert_timezone('UTC', {a[1]}, "
        f"CAST(to_timestamp({a[0]}) AS TIMESTAMP_NTZ)))"
        if len(a) == 2 and re.fullmatch(r"\s*'[A-Za-z_/+0-9-]+'\s*", a[1])
        else f"to_date({', '.join(a)})"),
    # toDate32 takes the same optional trailing timezone
    "todate32": lambda a: (
        _todate32_numeric_literal(a)
        if re.fullmatch(r"\s*-?\d+\s*", a[0])
        else f"to_date(convert_timezone('UTC', {a[1]}, "
        f"CAST(to_timestamp({a[0]}) AS TIMESTAMP_NTZ)))"
        if len(a) == 2 and re.fullmatch(r"\s*'[A-Za-z_/+0-9-]+'\s*", a[1])
        else f"to_date({', '.join(a)})"),
    "todatetime": lambda a: (
        # toDateTime(numeric, scale[, tz]) returns DateTime64(scale)
        # with LUT-saturating rendering (golden 01702)
        _dt64_saturating_literal(
            _num_literal_of(a[0]), int(a[1]),
            a[2].strip() if len(a) >= 3 else None)
        if len(a) >= 2 and re.fullmatch(r"\s*\d+\s*", a[1])
        and _num_literal_of(a[0]) is not None
        and (len(a) == 2 or re.fullmatch(
            r"\s*'[A-Za-z_/+-]*[A-Za-z][A-Za-z_/+-]*'\s*", a[2]))
        else _todatetime_numeric_literal(a)
        if re.fullmatch(r"\s*-?\d+\s*", a[0])
        else _tz_wall_sql(a[0], a[-1].strip())
        if len(a) >= 2 and re.fullmatch(r"\s*'[A-Za-z_/+-]*[A-Za-z][A-Za-z_/+-]*'\s*", a[-1])
        else f"to_timestamp({a[0]})"),
    "todatetime64": lambda a: _todatetime64_sql(a),
    "tolastdayofmonth": _fn("last_day"),
    "today": lambda a: "current_date()", "now": lambda a: "current_timestamp()",
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    # toUnixTimestamp(x[, tz]): the tz applies to STRING parsing ONLY
    # (the string is that zone's wall clock); DateTime/DateTime64
    # epochs are tz-INDEPENDENT (toUnixTimestamp(toDateTime(e), tz) =
    # e in the reference, FunctionsConversion.cpp) — a DateTime first
    # argument ignores the tz entirely (r11 ADVICE fix).
    "tounixtimestamp": lambda a: (
        f"unix_seconds(to_utc_timestamp(to_timestamp({a[0]}), {a[1]}))"
        if len(a) == 2 and re.fullmatch(
            r"\s*'[A-Za-z_/+-]*[A-Za-z][A-Za-z_/+-]*'\s*", a[1])
        and re.fullmatch(r"\s*'(?:[^'\\]|\\.)*'\s*", a[0])
        else f"unix_seconds({_epoch_ts_sql(a[0])})" if len(a) <= 2
        else f"unix_timestamp({', '.join(a)})"),
    # DateTime64 epoch extractors (FunctionsConversion
    # toUnixTimestamp64*): epochs are tz-INDEPENDENT (reference
    # src/Functions/toUnixTimestamp64.cpp) — _epoch_ts_sql re-anchors
    # marker-carried column-zone walls.  The reference requires exactly
    # ONE DateTime64 argument — String literals and extra arguments are
    # ILLEGAL_TYPE_OF_ARGUMENT / NUMBER_OF_ARGUMENTS_DOESNT_MATCH.
    "tounixtimestamp64second": lambda a:
        f"unix_seconds({_epoch_ts_sql(_ts64_arg(a))})",
    "tounixtimestamp64milli": lambda a:
        f"unix_millis({_epoch_ts_sql(_ts64_arg(a))})",
    "tounixtimestamp64micro": lambda a:
        f"unix_micros({_epoch_ts_sql(_ts64_arg(a))})",
    "tounixtimestamp64nano": lambda a:
        f"(unix_micros({_epoch_ts_sql(_ts64_arg(a))}) * 1000)",
    "fromunixtimestamp": _fn("timestamp_seconds"),
    "adddays": lambda a: f"date_add({a[0]}, {a[1]})",
    "subtractdays": lambda a: f"date_sub({a[0]}, {a[1]})",
    "addmonths": lambda a: f"add_months({a[0]}, {a[1]})",
    "addyears": lambda a: f"add_months({a[0]}, 12 * ({a[1]}))",
    "addweeks": lambda a: f"date_add({a[0]}, 7 * ({a[1]}))",
    "addhours": lambda a: f"({a[0]} + make_interval(0, 0, 0, 0, {a[1]}))",
    "addminutes": lambda a: f"({a[0]} + make_interval(0, 0, 0, 0, 0, {a[1]}))",
    "addseconds": lambda a: f"({a[0]} + make_interval(0, 0, 0, 0, 0, 0, {a[1]}))",
    "datediff": lambda a: _datediff_rule(a),
    "toyyyymm": lambda a: f"(year({a[0]}) * 100 + month({a[0]}))",
    "toyyyymmdd": lambda a: f"(year({a[0]}) * 10000 + month({a[0]}) * 100 + day({a[0]}))",
    # type conversion
    "tostring": _cast("STRING"),
    "toint8": _cast("TINYINT"), "toint16": _cast("SMALLINT"),
    "toint32": _cast("INT"), "toint64": _cast("BIGINT"),
    "touint8": _cast("SMALLINT"), "touint16": _cast("INT"),
    # DECIMAL-carrier widths truncate float inputs toward zero like
    # the reference's static_cast (Spark's float→DECIMAL rounds)
    "touint32": _cast("BIGINT"), "touint64": _trunc_cast("DECIMAL(20,0)"),
    "toint128": _trunc_cast("DECIMAL(38,0)"),
    "toint256": _trunc_cast("DECIMAL(38,0)"),
    "touint128": _trunc_cast("DECIMAL(38,0)"),
    "touint256": _trunc_cast("DECIMAL(38,0)"),
    "tofloat32": _cast("FLOAT"), "tofloat64": _cast("DOUBLE"),
    "toint32ornull": lambda a: f"TRY_CAST({a[0]} AS INT)",
    "toint64ornull": lambda a: f"TRY_CAST({a[0]} AS BIGINT)",
    "tofloat64ornull": lambda a: f"TRY_CAST({a[0]} AS DOUBLE)",
    # strings
    # CH length() = bytes (String is binary-safe); lengthUTF8 = chars
    # CH length() is polymorphic: bytes for String, cardinality for
    # Array/Map (src/Functions/array/length.cpp).  The textual
    # translator can only see syntax, so detect collection-producing
    # head functions; plain columns/strings keep byte semantics.
    "length": lambda a: (
        f"cardinality({a[0]})"
        if (re.match(r"(?is)\s*(array|map|map_from_arrays|"
                     r"map_from_entries|map_concat|sequence|split|"
                     r"splitByChar|collect_list|collect_set|array_\w+|"
                     r"transform|filter|slice|"
                     r"flatten|range|map_keys|map_values)\s*\(|\s*\[",
                     a[0])
            # array_min/max/position/contains/... return SCALARS —
            # exclude them so length() keeps byte semantics on them
            and not re.match(r"(?is)\s*array_(min|max|position|"
                             r"contains|size|join)\s*\(", a[0]))
        else f"octet_length({a[0]})"),
    "lengthutf8": _fn("length"),
    # lowerUTF8/upperUTF8 leave INVALID UTF-8 byte sequences untouched
    # (reference src/Functions/LowerUpperUTF8Impl.h skips bad
    # sequences; golden 02071_lower_upper_utf8_row_overlaps) — Spark's
    # lower() would mangle them to U+FFFD
    "lowerutf8": lambda a:
        f"IF(is_valid_utf8({a[0]}), lower({a[0]}), {a[0]})",
    "upperutf8": lambda a:
        f"IF(is_valid_utf8({a[0]}), upper({a[0]}), {a[0]})",
    "empty": lambda a: f"(length({a[0]}) = 0)",
    "notempty": lambda a: f"(length({a[0]}) > 0)",
    "position": lambda a: f"instr({a[0]}, {a[1]})",
    "match": lambda a: f"({a[0]} RLIKE {_pyre_to_java(a[1])})",
    # PostgreSQL-compat alias registered by the reference
    # (src/Functions/match.cpp REGEXP_MATCHES)
    "regexp_matches": lambda a: f"({a[0]} RLIKE {_pyre_to_java(a[1])})",
    # CH extract(haystack, re) vs ANSI EXTRACT(unit FROM ts) — the ANSI
    # form arrives as a single 'unit FROM expr' argument and passes
    # through to Spark's own EXTRACT
    "extract": lambda a: (
        f"EXTRACT({a[0]})" if len(a) == 1
        else f"regexp_extract({a[0]}, {a[1]}, {_re_group_idx(a[1])})"),
    # CH two-arg cast(x, 'Type') (src/Functions/CastOverloadResolver.h);
    # the AS form arrives as one argument and passes through
    "cast": lambda a: _cast_rule(a),
    "extractall": lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 1)",
    # an EMPTY needle replaces nothing (ReplaceStringImpl — Spark's
    # replace would prepend the replacement)
    "replaceall": lambda a: (
        f"CASE WHEN length({a[1]}) = 0 THEN {a[0]} "
        f"ELSE replace({a[0]}, {a[1]}, {a[2]}) END"),
    # first-occurrence-only (reference ReplaceStringImpl.h replace_first):
    # splice around the first match instead of aliasing to replace-all
    "replaceone": lambda a: (
        f"CASE WHEN length({a[1]}) > 0 "
        f"AND instr({a[0]}, {a[1]}) > 0 THEN "
        f"concat(substring({a[0]}, 1, instr({a[0]}, {a[1]}) - 1), {a[2]}, "
        f"substring({a[0]}, instr({a[0]}, {a[1]}) + length({a[1]}), length({a[0]}))) "
        f"ELSE {a[0]} END"),
    # empty PATTERN replaces nothing (the reference's re2 path skips
    # empty patterns; Spark inserts between every char)
    "replaceregexpall": lambda a: (
        f"CASE WHEN length({a[1]}) = 0 THEN {a[0]} "
        f"ELSE regexp_replace({a[0]}, {a[1]}, {a[2]}) END"),
    "replaceregexpone": lambda a: (
        f"CASE WHEN length({a[1]}) = 0 THEN {a[0]} "
        f"WHEN regexp_instr({a[0]}, {a[1]}) > 0 THEN "
        f"concat(regexp_replace(substring({a[0]}, 1, regexp_instr({a[0]}, {a[1]}) "
        f"+ length(regexp_substr({a[0]}, {a[1]})) - 1), {a[1]}, {a[2]}), "
        f"substring({a[0]}, regexp_instr({a[0]}, {a[1]}) "
        f"+ length(regexp_substr({a[0]}, {a[1]})), length({a[0]}))) "
        f"ELSE {a[0]} END"),
    # CH startsWith/endsWith also take ARRAYS (prefix/suffix test,
    # src/Functions/startsWith.cpp GenericComparison) — detect literal
    # collection heads textually
    "startswith": lambda a: (
        f"(size({a[0]}) >= size({a[1]}) AND "
        f"slice({a[0]}, 1, size({a[1]})) = {a[1]})"
        if re.match(r"(?is)\s*(array|\[)", a[1]) or
        re.match(r"(?is)\s*(array|\[)", a[0])
        else f"startswith({a[0]}, {a[1]})"),
    "endswith": lambda a: (
        f"(size({a[0]}) >= size({a[1]}) AND "
        f"slice({a[0]}, -greatest(size({a[1]}), 1), size({a[1]})) "
        f"= {a[1]})"
        if re.match(r"(?is)\s*(array|\[)", a[1]) or
        re.match(r"(?is)\s*(array|\[)", a[0])
        else f"endswith({a[0]}, {a[1]})"),
    # bitCount over any integer carrier (Int128 rides DECIMAL here)
    "bitcount": lambda a: f"bit_count(CAST({a[0]} AS BIGINT))",
    "splitbychar": lambda a: f"split({a[1]}, {_regex_quote(a[0])})",
    "splitbystring": lambda a: f"split({a[1]}, {_regex_quote(a[0])})",
    "splitbyregexp": lambda a: f"split({a[1]}, {a[0]})",
    "arraystringconcat": lambda a: f"array_join({', '.join(a)})",
    "concatwithseparator": lambda a: f"concat_ws({', '.join(a)})",
    "trimboth": _fn("trim"), "trimleft": _fn("ltrim"), "trimright": _fn("rtrim"),
    "leftpad": _fn("lpad"), "rightpad": _fn("rpad"),
    # *UTF8 variants pad at CODEPOINTS — Spark's lpad/rpad already
    # count characters (padStringUTF8.cpp)
    "leftpadutf8": _fn("lpad"), "rightpadutf8": _fn("rpad"),
    "levenshteindistance": _fn("levenshtein"), "editdistance": _fn("levenshtein"),
    "formatdatetime": lambda a: _format_datetime_sql(a),
    # conditionals / null — CH conditions are UInt8 (nonzero = true,
    # src/Functions/if.cpp); CAST AS BOOLEAN reproduces that for
    # numeric conds and is a no-op for boolean ones
    "if": lambda a: (f"if(CAST({a[0]} AS BOOLEAN), {a[1]}, {a[2]})"
                     if len(a) == 3 else f"if({', '.join(a)})"),
    "multiif": lambda a: _case_when(a),
    "ifnull": _fn("coalesce"),
    "isnull": lambda a: f"({a[0]} IS NULL)",
    "isnotnull": lambda a: f"({a[0]} IS NOT NULL)",
    "assumenotnull": lambda a: a[0],
    # toNullable: identity value, but the NULLABLE TYPE signal must
    # survive translation — the keyless empty-set default wrap skips
    # nullif-shaped arguments (AggregateFunctionNull returns NULL for
    # the no-values state, not the type default)
    "tonullable": lambda a: f"nullif({a[0]}, NULL)",
    # math
    # C++ division truncates toward zero (DivisionUtils.h): a - a%b is
    # exactly divisible and Spark % keeps the dividend's sign.  try_mod/
    # try_divide instead of %-and-/: identical non-ANSI results, NULL
    # instead of throwing under spark.sql.ansi.enabled=true.
    "intdiv": lambda a: (f"CAST(try_divide({a[0]} - try_mod({a[0]}, {a[1]}), "
                         f"{a[1]}) AS BIGINT)"),
    "intdivorzero": lambda a: (
        f"IF({a[1]} = 0, 0, CAST(try_divide({a[0]} - "
        f"try_mod({a[0]}, {a[1]}), {a[1]}) AS BIGINT))"),
    "modulo": lambda a: f"try_mod({a[0]}, {a[1]})",
    "moduloorzero": lambda a: f"coalesce(try_mod({a[0]}, {a[1]}), 0)",
    "plus": lambda a: f"({a[0]} + {a[1]})",
    "minus": lambda a: f"({a[0]} - {a[1]})",
    "multiply": lambda a: f"({a[0]} * {a[1]})",
    # CH divide ALWAYS returns Float64, /0 gives ±inf (0/0 nan) —
    # x * inf reproduces that sign logic, and the CASE keeps the whole
    # expression ANSI-session-proof (ANSI errors even on double /0)
    "divide": lambda a: (
        f"CASE WHEN ({a[1]}) = 0 THEN CAST({a[0]} AS DOUBLE) "
        f"* double('inf') ELSE CAST({a[0]} AS DOUBLE) / ({a[1]}) END"),
    "negate": lambda a: f"(-{a[0]})",
    "ln": _fn("log"), "exp2": lambda a: f"power(2, {a[0]})",
    "exp10": lambda a: f"power(10, {a[0]})",
    "roundbankers": _fn("bround"),
    # hashing / encoding
    "cityhash64": _fn("xxhash64"), "siphash64": _fn("xxhash64"),
    "xxhash64": _fn("xxhash64"), "farmhash64": _fn("xxhash64"),
    "md5": lambda a: f"md5(CAST({a[0]} AS BINARY))",
    "sha256": lambda a: f"sha2(CAST({a[0]} AS BINARY), 256)",
    "base64encode": lambda a: f"base64(CAST({a[0]} AS BINARY))",
    "base64decode": lambda a: f"CAST(unbase64({a[0]}) AS STRING)",
    # arrays
    "arrayjoin": _fn("explode"),
    "has": lambda a: f"array_contains({a[0]}, {a[1]})",
    "indexof": lambda a: f"array_position({a[0]}, {a[1]})",
    "arraymap": lambda a: f"transform({a[1]}, {a[0]})",
    "arrayfilter": lambda a: f"filter({a[1]}, {_lam_bool(a[0])})",
    "arrayexists": lambda a: (
        f"exists({a[0]}, __x -> CAST(__x AS BOOLEAN))" if len(a) == 1
        else f"exists({a[1]}, {_lam_bool(a[0])})"),
    "arrayall": lambda a: (
        f"CAST(forall({a[0]}, __x -> CAST(__x AS BOOLEAN)) AS INT)"
        if len(a) == 1
        else f"CAST(forall({a[1]}, {_lam_bool(a[0])}) AS INT)"),
    "arraycount": lambda a: (
        f"size(filter({a[0]}, __x -> CAST(__x AS BOOLEAN)))"
        if len(a) == 1
        else f"size(filter({a[1]}, {_lam_bool(a[0])}))"),
    "arrayfirst": lambda a: f"try_element_at(filter({a[1]}, {_lam_bool(a[0])}), 1)",
    "arraylast": lambda a: f"try_element_at(filter({a[1]}, {_lam_bool(a[0])}), -1)",
    "arrayfirstindex": lambda a: _array_index_rule(a, 1),
    "arraylastindex": lambda a: _array_index_rule(a, -1),
    "arraysum": lambda a: (
        f"aggregate({a[0]}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        if len(a) == 1 else
        f"aggregate(transform({a[1]}, {a[0]}), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x)"),
    "arrayavg": lambda a: (
        f"aggregate({a[0]}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x, "
        f"acc -> acc / size({a[0]}))" if len(a) == 1 else
        f"aggregate(transform({a[1]}, {a[0]}), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x, acc -> acc / size({a[1]}))"),
    "arraymin": lambda a: (f"array_min({a[0]})" if len(a) == 1 else
                           f"array_min(transform({a[1]}, {a[0]}))"),
    "arraymax": lambda a: (f"array_max({a[0]})" if len(a) == 1 else
                           f"array_max(transform({a[1]}, {a[0]}))"),
    "arraysort": _fn("array_sort"), "arrayreverse": _fn("reverse"),
    "arraydistinct": _fn("array_distinct"), "arrayuniq": lambda a: f"size(array_distinct({a[0]}))",
    "arrayconcat": _fn("concat"), "arrayflatten": _fn("flatten"),
    "arrayslice": lambda a: f"slice({', '.join(a)})",
    # variadic in CH (arrayIntersect.cpp) — fold pairwise
    "arrayintersect": lambda a: (
        a[0] if len(a) == 1 else
        __import__("functools").reduce(
            lambda acc, x: f"array_intersect({acc}, {x})", a[1:], a[0])),
    # CH arrays are 1-based; element_at matches.  Bare subscript syntax
    # `arr[1]` is also rewritten to try_element_at (_wrap_subscript);
    # try_ keeps out-of-range NULL under ANSI sessions.
    "arrayelement": _fn("try_element_at"),
    "emptyarraytosingle": lambda a: f"IF(size({a[0]}) = 0, array(0), {a[0]})",
    "arrayreduce": lambda a: _array_reduce_sql(a),
    # initializeAggregation('f', v...) = the aggregate f over a single
    # row (reference src/Functions/initializeAggregation.cpp) — scalar
    # bases use the scalar state carriers (value / partial count /
    # (sum, count) struct) so finalizeAggregation and the -Merge
    # suffix aggregates compose; everything else is arrayReduce over
    # singleton arrays
    "initializeaggregation": lambda a: _initialize_aggregation_sql(a),
    # bitmap state algebra (FunctionsBitmap.cpp): states are sorted
    # array<long> — see operators/bitmaps.py for the DataFrame forms
    "bitmapbuild": lambda a: f"array_sort(array_distinct({a[0]}))",
    # groupBitmap aggregate family over the sorted-array carrier:
    # -State collects the union as a state array, -Merge unions
    # partial states and finalizes to the cardinality
    # canonical -State input is a SCALAR uint column → collect_set;
    # the flatten form only analyzes over array-typed (state) inputs,
    # detected textually (array-producing spellings / __state suffix)
    "groupbitmapstate": lambda a: (
        f"array_sort(array_distinct(flatten(collect_list({a[0]}))))"
        if _looks_arrayish(a[0])
        else f"array_sort(collect_set({a[0]}))"),
    # -Merge input is a state (array carrier) by contract — keep the
    # flatten form unconditionally
    "groupbitmapmerge": lambda a:
        f"CAST(size(array_distinct(flatten(collect_list({a[0]})))) "
        f"AS BIGINT)",
    # NULL states (a non-matched outer-join side: the reference fills
    # type DEFAULTS — the EMPTY bitmap — under join_use_nulls=0, and
    # Spark's legacy size(NULL) is -1; golden
    # 01552_impl_aggfunc_cloneresize) coalesce to the empty bitmap
    "bitmaptoarray": lambda a: f"array_sort({_bm_arg(a[0])})",
    "bitmapcardinality": lambda a:
        f"CAST(size({_bm_arg(a[0])}) AS BIGINT)",
    "bitmapand": lambda a:
        f"array_sort(array_intersect({_bm_arg(a[0])}, {_bm_arg(a[1])}))",
    "bitmapor": lambda a:
        f"array_sort(array_union({_bm_arg(a[0])}, {_bm_arg(a[1])}))",
    "bitmapxor": lambda a: (
        f"array_sort(array_except(array_union({_bm_arg(a[0])}, "
        f"{_bm_arg(a[1])}), "
        f"array_intersect({_bm_arg(a[0])}, {_bm_arg(a[1])})))"),
    "bitmapandnot": lambda a:
        f"array_sort(array_except({_bm_arg(a[0])}, {_bm_arg(a[1])}))",
    "bitmapandcardinality": lambda a: (
        f"CAST(size(array_intersect({_bm_arg(a[0])}, {_bm_arg(a[1])})) "
        f"AS BIGINT)"),
    "bitmaporcardinality": lambda a: (
        f"CAST(size(array_union({_bm_arg(a[0])}, {_bm_arg(a[1])})) "
        f"AS BIGINT)"),
    "bitmapxorcardinality": lambda a: (
        f"CAST(size(array_except(array_union({_bm_arg(a[0])}, "
        f"{_bm_arg(a[1])}), "
        f"array_intersect({_bm_arg(a[0])}, {_bm_arg(a[1])}))) "
        f"AS BIGINT)"),
    "bitmapandnotcardinality": lambda a: (
        f"CAST(size(array_except({_bm_arg(a[0])}, {_bm_arg(a[1])})) "
        f"AS BIGINT)"),
    "bitmapcontains": lambda a:
        f"array_contains({_bm_arg(a[0])}, {a[1]})",
    "bitmaphasall": lambda a:
        f"(size(array_except({_bm_arg(a[1])}, {_bm_arg(a[0])})) = 0)",
    "bitmaphasany": lambda a:
        f"arrays_overlap({_bm_arg(a[0])}, {_bm_arg(a[1])})",
    "bitmapmin": _fn("array_min"), "bitmapmax": _fn("array_max"),
    "bitmapsubsetinrange": lambda a: (
        f"filter({a[0]}, x -> x >= {a[1]} AND x < {a[2]})"),
    "bitmapsubsetlimit": lambda a: (
        f"slice(filter({a[0]}, x -> x >= {a[1]}), 1, {a[2]})"),
    "subbitmap": lambda a: f"slice({a[0]}, {a[1]} + 1, {a[2]})",
    # aggregates
    "grouparray": _fn("collect_list"), "groupuniqarray": _fn("collect_set"),
    # multi-argument uniq counts distinct TUPLES (AggregateFunctionUniq
    # variadic form) — struct-wrap so approx_count_distinct's second
    # parameter (rsd) is not hijacked.  rsd 0.01 keeps small
    # cardinalities EXACT via the linear-counting range (the
    # reference's uniq/uniqCombined are exact below their sampling
    # thresholds — golden 00700 expects 101, not ±5%) at ~3 KB of
    # sketch per group
    # the sketch hashes CAST(x AS STRING): Spark's native hash of
    # NESTED containers drops length boundaries ([['a','b']] and
    # [['a'],['b']] collide — golden 00666), while the display render
    # is injective within a column's type
    "uniq": lambda a: (
        f"approx_count_distinct(CAST({a[0]} AS STRING), 0.01)"
        if len(a) == 1 else
        f"approx_count_distinct(CAST(struct({', '.join(a)}) "
        f"AS STRING), 0.01)"),
    "uniqcombined": lambda a: (
        f"approx_count_distinct(CAST({a[0]} AS STRING), 0.01)"
        if len(a) == 1 else
        f"approx_count_distinct(CAST(struct({', '.join(a)}) "
        f"AS STRING), 0.01)"),
    "uniqcombined64": lambda a: (
        f"approx_count_distinct(CAST({a[0]} AS STRING), 0.01)"
        if len(a) == 1 else
        f"approx_count_distinct(CAST(struct({', '.join(a)}) "
        f"AS STRING), 0.01)"),
    "uniqhll12": lambda a: (
        f"approx_count_distinct(CAST({a[0]} AS STRING), 0.01)"
        if len(a) == 1 else
        f"approx_count_distinct(CAST(struct({', '.join(a)}) "
        f"AS STRING), 0.01)"),
    "uniqtheta": _fn("approx_count_distinct"),
    "uniqexact": lambda a: f"count(DISTINCT {', '.join(a)})",
    "countif": _fn("count_if"),
    # CH allows count() with no argument
    "count": lambda a: "count(*)" if not [x for x in a if x.strip()] else f"count({', '.join(a)})",
    "sumif": lambda a: f"sum(CASE WHEN {a[1]} THEN {a[0]} END)",
    "avgif": lambda a: f"avg(CASE WHEN {a[1]} THEN {a[0]} END)",
    "minif": lambda a: f"min(CASE WHEN {a[1]} THEN {a[0]} END)",
    "maxif": lambda a: f"max(CASE WHEN {a[1]} THEN {a[0]} END)",
    "argmin": _fn("min_by"), "argmax": _fn("max_by"),
    "any": _fn("first"), "anylast": _fn("last"),
    # STD / STDDEV_POP are reference aliases of stddevPop
    # (AggregateFunctionStatisticsSimple.cpp registerAlias)
    "std": _fn("stddev_pop"),
    "stddevpop": _fn("stddev_pop"), "stddevsamp": _fn("stddev_samp"),
    "varpop": _fn("var_pop"), "varsamp": _fn("var_samp"),
    "covarpop": _fn("covar_pop"), "covarsamp": _fn("covar_samp"),
    # skew/kurt (AggregateFunctionStatisticsSimple.h:162-196 +
    # Moments.h): skewPop = m3/varPop^1.5 = Spark skewness;
    # kurtPop = m4/varPop² = Spark kurtosis + 3 (Spark reports excess);
    # the *Samp forms divide the same POPULATION central moment by the
    # SAMPLE variance, i.e. scale by ((n-1)/n)^{1.5 or 2}
    "skewpop": _fn("skewness"),
    "skewsamp": lambda a: (
        f"(skewness({a[0]}) * power((count({a[0]}) - 1) "
        f"/ CAST(count({a[0]}) AS DOUBLE), 1.5))"),
    "kurtpop": lambda a: f"(kurtosis({a[0]}) + 3)",
    "kurtsamp": lambda a: (
        f"((kurtosis({a[0]}) + 3) * power((count({a[0]}) - 1) "
        f"/ CAST(count({a[0]}) AS DOUBLE), 2))"),
    # *Stable variants (AggregateFunctionStatisticsSimple.cpp): same
    # results via a numerically stable algorithm — Spark's moment aggs
    # already use a stable one-pass formulation, so they alias.
    "stddevpopstable": _fn("stddev_pop"),
    "stddevsampstable": _fn("stddev_samp"),
    "varpopstable": _fn("var_pop"), "varsampstable": _fn("var_samp"),
    "covarpopstable": _fn("covar_pop"),
    "covarsampstable": _fn("covar_samp"),
    "corrstable": _fn("corr"),
    # any/anyLast RESPECT NULLS registrations
    # (AggregateFunctionAny.cpp): Spark first/last default to
    # ignoreNulls=false, which IS respect-nulls.
    "any_respect_nulls": _fn("first"),
    "anylast_respect_nulls": _fn("last"),
    # sumWithOverflow keeps the input type and lets it wrap
    # (AggregateFunctionSumWithOverflow) — Spark's sum over
    # long/double is already non-promoting for those carriers.
    "sumwithoverflow": _fn("sum"),
    "median": _fn("median"),
    "grouparrayarray": lambda a: f"flatten(collect_list({a[0]}))",
    "groupbitand": _fn("bit_and"), "groupbitor": _fn("bit_or"),
    "groupbitxor": _fn("bit_xor"),
    # groupBitmap(x) returns the state's cardinality
    # (AggregateFunctionGroupBitmap.cpp); the state itself is
    # operators.group_bitmap_state
    "groupbitmap": lambda a: f"CAST(count(DISTINCT {a[0]}) AS BIGINT)",
    # sumKahan: Spark's double sum; the compensation term is an accuracy
    # nicety below the engine contract's tolerance (AggregateFunctionSumKahan)
    "sumkahan": _fn("sum"),
    # avgWeighted(x, w) = Σxw/Σw (AggregateFunctionAvgWeighted.cpp)
    "avgweighted": lambda a: (
        f"(sum(({a[0]}) * ({a[1]})) / nullif(sum({a[1]}), 0))"),
    "sumcount": lambda a: f"struct(sum({a[0]}), count({a[0]}))",
    # groupConcat(x) — insertion-order concat; CH order is arbitrary, so
    # any order satisfies the contract (deterministic form: the
    # parametric groupConcat(sep)(x) + ORDER BY in the query).  Default
    # delimiter is the EMPTY string (AggregateFunctionGroupConcat.cpp:207
    # `String delimiter;` — only set from parameters[0]).
    "groupconcat": lambda a: f"array_join(collect_list(CAST({a[0]} AS STRING)), '')",
    # tuples: CH tuple(a, b) with positional access t.1 / tupleElement
    # (src/Functions/tuple.cpp, tupleElement.cpp).  named_struct pins
    # the field names to col1..colN so positional access is stable
    # (bare struct() would name fields after the argument columns).
    "tuple": lambda a: "named_struct(" + ", ".join(
        f"'col{i + 1}', {x}" for i, x in enumerate(a)) + ")",
    "tupleelement": lambda a: (
        f"({a[0]}).col{a[1]}" if a[1].strip().isdigit()
        else f"({a[0]}).{a[1].strip()[1:-1]}"
        if a[1].strip()[:1] in "'\"" else f"({a[0]}).{a[1].strip()}"),
    # mortonEncode(mask_tuple, x, y): the leading TUPLE is a bit-mask
    # per coordinate (reference src/Functions/mortonCodes.cpp masked
    # form); the all-ones mask is identity — strip it and interleave.
    # Non-trivial masks are not implemented (LIMITS).
    "mortonencode": lambda a: (
        _bridge_registry_call("mortonEncode", a[1:] if (
            len(a) == 3 and set(re.findall(
                r"\d+", re.sub(r"(?i)col\d+|named_struct|'|\+ 0", "",
                               a[0]))) == {"1"}) else a)
        or f"mortonEncode({', '.join(a)})"),
    # misc
    "generateuuidv4": lambda a: "uuid()",
    # materialize(): the reference's anti-constant-folding wrapper.  A
    # bare integer literal must NOT survive as a literal — Spark would
    # read it as a GROUP BY/ORDER BY ordinal; `+ 0` keeps the value and
    # type but is no longer a literal at analysis time.
    "materialize": lambda a: (f"({a[0]} + 0)"
                              if re.fullmatch(r"\s*[+-]?\d+\s*", a[0])
                              else a[0]),
    "identity": lambda a: a[0],
    # ignore(...) evaluates its arguments and returns 0
    # (src/Functions/ignore.cpp); argument side effects don't exist in
    # a Spark plan, so the constant alone is the whole contract (also
    # absorbs `ignore(*)`, which Spark's parser would reject)
    "ignore": lambda a: "0",
    # blockSize() = rows in the current processing block
    # (src/Functions/blockSize.cpp) — the partition is this engine's
    # block; rendered with an explicit frame (the bridged Column
    # renders an unparsable unspecifiedframe$() token in SQL text)
    "blocksize": lambda a: (
        "count(1) OVER (PARTITION BY spark_partition_id() "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"),
    # Variant carrier accessors (DataTypeVariant): the cast produces a
    # (val STRING, typ STRING) struct; variantType reads the tag,
    # variantElement extracts-and-casts when the tag matches
    "varianttype": lambda a: f"({a[0]}).typ",
    # Dynamic carries as a JSON/text STRING here (SURVEY §1.2);
    # dynamicType sniffs the carried value the way the Variant cast
    # does, isDynamicElementInSharedData is always false (no shared
    # binary payload in a string carrier)
    "dynamictype": lambda a: (
        f"(CASE WHEN {a[0]} IS NULL THEN 'None' "
        f"WHEN try_cast({a[0]} AS BIGINT) IS NOT NULL THEN "
        # JSON dynamic paths infer Int64 for integers (reference
        # DataTypeObject type inference); bare Dynamic columns sniff
        # the sign the way the Variant cast does
        + ("'Int64' "
           if re.search(r"(?i)get_json_object|parse_json", a[0])
           else f"IF(try_cast({a[0]} AS BIGINT) >= 0, 'UInt64', "
                f"'Int64') ")
        + f"WHEN try_cast({a[0]} AS DOUBLE) IS NOT NULL THEN 'Float64' "
        f"WHEN lower(CAST({a[0]} AS STRING)) IN ('true', 'false') "
        f"THEN 'Bool' "
        f"WHEN CAST({a[0]} AS STRING) RLIKE "
        f"'^\\\\d{{4}}-\\\\d{{2}}-\\\\d{{2}}$' THEN 'Date' "
        f"WHEN trim(CAST({a[0]} AS STRING)) RLIKE '^\\\\[.*\\\\]$' "
        f"THEN 'Array(Nullable(String))' "
        f"ELSE 'String' END)"),
    "isdynamicelementinshareddata": lambda a: "false",
    # variantElement over the (val, typ) struct carrier when the arg
    # is visibly a Variant cast; plain string carriers (declared
    # Variant columns, map values) go through the dynamicType sniffer
    "variantelement": lambda a: (
        f"(CASE WHEN ({a[0]}).typ = {a[1]} THEN "
        f"CAST(({a[0]}).val AS "
        f"{_ch_type_to_sql(a[1])}) END)"
        if "named_struct" in a[0] or ").val" in a[0]
        else f"(CASE WHEN {_RULES['dynamictype']([a[0]])} = {a[1]} "
             f"THEN CAST({a[0]} AS {_ch_type_to_sql(a[1])}) END)"),
    # DATE_ADD/DATE_SUB: CH takes (date, INTERVAL n unit) or
    # (unit, n, date) (src/Functions/FunctionDateOrDateTimeAddInterval);
    # Spark's date_add is (date, days) — route interval forms through
    # arithmetic
    "date_add": lambda a: (
        f"({a[0]} + {a[1]})"
        if len(a) == 2 and re.match(r"(?i)\s*INTERVAL\b", a[1])
        else (_date_add_unit_sql(a, "+") if len(a) == 3
              else f"date_add({', '.join(a)})")),
    "date_sub": lambda a: (
        f"({a[0]} - {a[1]})"
        if len(a) == 2 and re.match(r"(?i)\s*INTERVAL\b", a[1])
        else (_date_add_unit_sql(a, "-") if len(a) == 3
              else f"date_sub({', '.join(a)})")),
    "dateadd": lambda a: _RULES["date_add"](a),
    "datesub": lambda a: _RULES["date_sub"](a),
    "timestampadd": lambda a: _RULES["date_add"](a),
    "timestampsub": lambda a: _RULES["date_sub"](a),
    # NOT(x) over a numeric literal keeps CH's UInt8 result type so
    # `1 != NOT (1)` compares int-to-int (FunctionsLogical.cpp);
    # non-literal operands stay boolean NOT
    "not": lambda a: (
        f"IF(({a[0].strip()}) = 0, 1, 0)"
        if re.fullmatch(r"[+-]?\d+(\.\d+)?", a[0].strip())
        or re.fullmatch(r"(?si)\(?\s*IF\(.*, 1, 0\)\s*\)?", a[0].strip())
        else ("CAST(NULL AS INT)" if a[0].strip().upper() == "NULL"
              else f"(NOT ({a[0]}))")),
    # sleep/sleepEachRow return 0 after delaying the block; a Spark
    # plan has no per-block scheduling point, so emit the result value
    # (reference src/Functions/sleep.h — the corpus uses it only for
    # timing side-effects)
    "sleep": lambda a: "CAST(0 AS TINYINT)",
    "sleepeachrow": lambda a: "CAST(0 AS TINYINT)",
    # range(n) / range(a, b[, step]) scalar array (range.cpp) —
    # end-EXCLUSIVE vs Spark sequence's inclusive end
    "range": lambda a: (
        f"CASE WHEN CAST({a[0]} AS BIGINT) <= 0 THEN "
        f"CAST(array() AS array<bigint>) "
        f"ELSE sequence(CAST(0 AS BIGINT), "
        f"CAST({a[0]} AS BIGINT) - 1) END" if len(a) == 1 else
        f"CASE WHEN CAST({a[1]} AS BIGINT) <= CAST({a[0]} AS BIGINT) "
        f"THEN CAST(array() AS array<bigint>) "
        f"ELSE sequence(CAST({a[0]} AS BIGINT), "
        f"CAST({a[1]} AS BIGINT) - 1"
        + (f", CAST({a[2]} AS BIGINT)" if len(a) > 2 else "")
        + ") END"),
}


def _arg_mm_sql(base: str, a, ext_fn: str) -> str:
    """-ArgMin/-ArgMax combinator SQL rewrite
    (AggregateFunctionCombinatorsArgMinArgMax.cpp): fooArgMin(v, k) =
    foo over values at the group's minimal k.  One collect_list +
    HOF filter — still a single aggregation."""
    pairs = f"collect_list(struct({a[1]} AS k, {a[0]} AS v))"
    ext = f"{ext_fn}(transform({pairs}, t -> t.k))"
    vals = f"transform(filter({pairs}, s -> s.k = {ext}), s -> s.v)"
    if base == "sum":
        return (f"aggregate({vals}, CAST(0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE))")
    if base == "avg":
        return (f"(aggregate({vals}, CAST(0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE)) / size({vals}))")
    if base == "min":
        return f"array_min({vals})"
    if base == "max":
        return f"array_max({vals})"
    return f"CAST(size({vals}) AS BIGINT)"  # count


# median* aliases = quantile*(0.5) (reference AggregateFunctionQuantile*
# registrations all alias a median form)
# emptyArray<T>() constructors (src/Functions/array/emptyArray*.cpp)
for _ea_name, _ea_t in (
        ("uint8", "SMALLINT"), ("uint16", "INT"), ("uint32", "BIGINT"),
        ("uint64", "BIGINT"), ("int8", "TINYINT"), ("int16", "SMALLINT"),
        ("int32", "INT"), ("int64", "BIGINT"), ("float32", "FLOAT"),
        ("float64", "DOUBLE"), ("string", "STRING"), ("date", "DATE"),
        ("datetime", "TIMESTAMP")):
    _RULES[f"emptyarray{_ea_name}"] = (
        lambda a, _t=_ea_t: f"CAST(array() AS ARRAY<{_t}>)")

# isDecimalOverflow(x[, prec]) (src/Functions/isDecimalOverflow.cpp):
# 1 when the value needs more than `prec` decimal digits.  The 1-arg
# form checks against the value's OWN declared precision — Spark
# decimals cannot hold a value exceeding their precision, so that
# form is identically 0 here (NULL-propagating).
_RULES["isdecimaloverflow"] = lambda a: (
    f"CAST(abs(CAST({a[0]} AS DOUBLE)) >= power(10, {a[1]}) AS INT)"
    if len(a) == 2 else
    f"CAST(IF(CAST({a[0]} AS DOUBLE) IS NULL, NULL, 0) AS INT)")

# arrayFold(λ(acc, x), arr, init) (src/Functions/array/arrayFold.cpp)
# -> Spark aggregate(arr, init, λ) — same accumulator-first lambda.
# CH also allows the UNPARENTHESIZED two-var form `acc,x -> body`,
# which arg splitting breaks at the comma — reassemble it.
def _arrayfold_rule(a):
    if len(a) == 4 and "->" in a[1] \
            and re.fullmatch(r"`?\w+`?", a[0].strip()):
        v2, body = a[1].split("->", 1)
        a = [f"({a[0].strip()}, {v2.strip()}) -> {body.strip()}",
             a[2], a[3]]
    if len(a) == 3:
        return f"aggregate({a[1]}, {a[2]}, {a[0]})"
    return f"arrayFold({', '.join(a)})"


_RULES["arrayfold"] = _arrayfold_rule

# formatQuery / formatQuerySingleLine (src/Functions/formatQuery.cpp):
# whitespace-normalized rendering (the reference re-prints through its
# parser; the single-space normal form is the documented approximation)
_RULES["formatquerysingleline"] = lambda a: (
    f"regexp_replace(trim(TRAILING ';' FROM trim({a[0]})), "
    f"'\\\\s+', ' ')")
_RULES["formatquery"] = _RULES["formatquerysingleline"]

# boundingRatio(x, y) (AggregateFunctionBoundingRatio.h): slope
# between the leftmost and rightmost points
_RULES["boundingratio"] = lambda a: (
    f"((max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]})) "
    f"/ (max({a[0]}) - min({a[0]})))")

# isNullable (src/Functions/isNullable.cpp): whether the argument's
# TYPE is Nullable — every Spark column/expression is nullable, so
# this engine's truthful answer is 1 (toNullable is already the
# identity here for the same reason)
_RULES["isnullable"] = lambda a: "CAST(1 AS TINYINT)"

# CH trunc/truncate is NUMERIC truncation toward zero (FunctionsRound.h)
# — shadow Spark's date-trunc builtin, which CH spells toStartOf*
_RULES["trunc"] = lambda a: (
    f"CAST({a[0]} AS BIGINT)" if len(a) == 1 else
    f"(CAST(({a[0]}) * power(10, {a[1]}) AS BIGINT) "
    f"/ power(10, {a[1]}))")
_RULES["truncate"] = _RULES["trunc"]

_RULES["medianexact"] = (
    lambda a: _PARAMETRIC["quantileexact"](["0.5"], a))
_RULES["mediantiming"] = lambda a: f"percentile({a[0]}, 0.5)"
_RULES["medianbfloat16"] = lambda a: f"percentile({a[0]}, 0.5)"
_RULES["mediandeterministic"] = lambda a: f"percentile({a[0]}, 0.5)"
_RULES["mediantdigest"] = lambda a: f"approx_percentile({a[0]}, 0.5)"
_RULES["mediandd"] = lambda a: f"approx_percentile({a[0]}, 0.5)"
_RULES["medianexactlow"] = (
    lambda a: _PARAMETRIC["quantileexactlow"](["0.5"], a))
_RULES["medianexacthigh"] = (
    lambda a: _PARAMETRIC["quantileexacthigh"](["0.5"], a))
# weighted median aliases = weighted quantile at 0.5 (same registration
# table); medianGK is parametric (accuracy)(x)
for _mw in ("medianexactweighted", "mediantimingweighted",
            "medianinterpolatedweighted", "medianexactweightedinterpolated",
            "medianbfloat16weighted"):
    _RULES[_mw] = (
        lambda a: f"percentile({a[0]}, 0.5, CAST({a[1]} AS BIGINT))")
_RULES["mediantdigestweighted"] = (
    lambda a: f"percentile({a[0]}, 0.5, CAST({a[1]} AS BIGINT))")

# full to<T>Or{Null,Zero,Default} SQL matrix (FunctionsConversion.h:
# every width the reference registers inside Spark's type ceiling;
# unsigned forms carry in the next-wider signed type like the registry
# and range-check like the reference's readIntTextImpl — negative or
# over-max input falls through to NULL/zero/default)
for _cn, _ct, _cz, _cmax in [
        ("int8", "TINYINT", "0", None), ("int16", "SMALLINT", "0", None),
        ("int32", "INT", "0", None), ("int64", "BIGINT", "0", None),
        ("uint8", "SMALLINT", "0", "255"), ("uint16", "INT", "0", "65535"),
        ("uint32", "BIGINT", "0", "4294967295"),
        ("uint64", "DECIMAL(20,0)", "0", "18446744073709551615"),
        # 128/256-bit ints carry as DECIMAL(38,0) — exact within
        # ±10^38-1, the documented carrier ceiling (LIMITS.md);
        # values beyond it fall through to NULL/zero/default
        ("int128", "DECIMAL(38,0)", "0", None),
        ("int256", "DECIMAL(38,0)", "0", None),
        ("uint128", "DECIMAL(38,0)", "0",
         "99999999999999999999999999999999999999"),
        ("uint256", "DECIMAL(38,0)", "0",
         "99999999999999999999999999999999999999"),
        ("float32", "FLOAT", "0.0", None), ("float64", "DOUBLE", "0.0", None),
        ("date", "DATE", "DATE'1970-01-01'", None),
        ("date32", "DATE", "DATE'1970-01-01'", None),
        ("datetime", "TIMESTAMP", "TIMESTAMP'1970-01-01 00:00:00'", None),
        ("datetime64", "TIMESTAMP", "TIMESTAMP'1970-01-01 00:00:00'", None)]:
    if _ct == "DATE":
        # numeric input = days since epoch (FunctionsConversion.h
        # ToDateTransform32Or64), checked FIRST — Spark's string→date
        # cast would read '19000' as a bare year; a direct int→DATE
        # cast never reaches the analyzer (it type-errors)
        _try = (lambda x:
                f"(CASE WHEN TRY_CAST({x} AS BIGINT) IS NOT NULL THEN "
                f"CASE WHEN TRY_CAST({x} AS BIGINT) BETWEEN 0 AND 65535 "
                f"THEN date_add(DATE'1970-01-01', "
                f"CAST(TRY_CAST({x} AS BIGINT) AS INT)) END "
                f"ELSE TRY_CAST(TRY_CAST({x} AS STRING) AS DATE) END)")
    elif _ct == "TIMESTAMP":
        # numeric input = epoch seconds in the DateTime range
        _try = (lambda x:
                f"(CASE WHEN TRY_CAST({x} AS BIGINT) IS NOT NULL THEN "
                f"CASE WHEN TRY_CAST({x} AS BIGINT) "
                f"BETWEEN 0 AND 4294967295 "
                f"THEN timestamp_seconds(TRY_CAST({x} AS BIGINT)) END "
                f"ELSE TRY_CAST(TRY_CAST({x} AS STRING) "
                f"AS TIMESTAMP) END)")
    elif _cmax is None:
        _try = lambda x, _t=_ct: f"TRY_CAST({x} AS {_t})"
    else:
        _try = (lambda x, _t=_ct, _m=_cmax:
                f"(CASE WHEN TRY_CAST({x} AS {_t}) BETWEEN 0 AND {_m} "
                f"THEN TRY_CAST({x} AS {_t}) END)")
    _RULES[f"to{_cn}ornull"] = lambda a, _f=_try: _f(a[0])
    _RULES[f"to{_cn}orzero"] = (
        lambda a, _f=_try, _t=_ct, _z=_cz:
        f"coalesce({_f(a[0])}, CAST({_z} AS {_t}))")
    _RULES[f"to{_cn}ordefault"] = (
        lambda a, _f=_try, _t=_ct, _z=_cz:
        f"coalesce({_f(a[0])}, "
        f"CAST({a[1] if len(a) > 1 else _z} AS {_t}))")

# toDateTime*Or{Null,Zero,Default} accept an optional TIMEZONE string
# argument before the default (FunctionsConversion toDateTimeOrDefault
# (x[, tz][, default]); golden 01746) — drop tz-shaped string args so
# the default detection sees the right operand
for _dtn in ("datetime", "datetime64", "date", "date32"):
    for _sfx in ("ornull", "orzero", "ordefault"):
        _k = f"to{_dtn}{_sfx}"
        if _k in _RULES:
            def _tz_drop_wrap(a, _b=_RULES[_k]):
                a2 = [a[0]] + [
                    x for x in a[1:]
                    if not re.fullmatch(
                        r"\s*'[A-Za-z][A-Za-z_/+-]*'\s*", x)]
                return _b(a2)
            _RULES[_k] = _tz_drop_wrap

# in-operator functional forms (reference src/Functions/in.cpp
# registrations): nullIn keeps ANSI NULL propagation — Spark's native
# IN semantics; plain in()/notIn() return 0 for NULL (CH contract);
# global* are identical on Spark (every join/IN is cluster-global),
# IgnoreSet variants differ only in prepared-set reuse, an executor
# concern with no semantic difference
def _fn_in(a, neg=False, nullsafe=False):
    lst = _in_value_list(a[1])
    if lst is None:  # empty set: membership is decidable without x
        return "true" if neg else "false"
    op = "NOT IN" if neg else "IN"
    core = f"({a[0]} {op} {lst})"
    # plain in()/notIn() return 0 for a NULL needle (CH contract,
    # src/Functions/in.cpp); nullIn keeps ANSI NULL propagation
    return core if nullsafe else f"coalesce({core}, false)"


for _inn in ("nullin", "globalnullin"):
    _RULES[_inn] = lambda a: _fn_in(a, nullsafe=True)
for _inn in ("notnullin", "globalnotnullin"):
    _RULES[_inn] = lambda a: _fn_in(a, neg=True, nullsafe=True)
for _inn in ("in", "globalin", "inignoreset", "globalinignoreset",
             "nullinignoreset", "globalnullinignoreset"):
    _RULES[_inn] = lambda a: _fn_in(a)
for _inn in ("notin", "globalnotin", "notinignoreset",
             "globalnotinignoreset", "notnullinignoreset",
             "globalnotnullinignoreset"):
    _RULES[_inn] = lambda a: _fn_in(a, neg=True)

# string/array/bit SQL forms (round-4 fuzz batch; registry had the
# DataFrame forms already)
# gamma family (lgamma.cpp / tgamma.cpp / factorial.cpp) — same Lanczos
# g=7 expression the registry emits (functions/registry.py _lgamma_pos),
# rendered as inline SQL.
def _lanczos_sql(z: str) -> str:
    """ln Γ(z) for z >= 0.5 as a SQL string (z pre-parenthesized)."""
    terms = "0.99999999999980993" + "".join(
        f" + ({c!r}) / ({z} - 1 + {i})" for i, c in enumerate(
            (676.5203681218851, -1259.1392167224028, 771.32342877765313,
             -176.61502916214059, 12.507343278686905, -0.13857109526572012,
             9.9843695780195716e-6, 1.5056327351493116e-7), start=1))
    t = f"({z} + 6.5)"  # z - 1 + g + 0.5, g = 7
    return (f"(0.9189385332046727 + ({z} - 0.5) * ln({t}) - {t}"
            f" + ln({terms}))")


def _lgamma_sql(a):
    z = f"(CAST({a[0]} AS DOUBLE))"
    return (f"(CASE WHEN {z} >= 0.5 THEN {_lanczos_sql(z)} "
            f"ELSE 1.1447298858494002 - ln(abs(sin(pi() * {z}))) "
            f"- {_lanczos_sql(f'(1.0 - {z})')} END)")


def _tgamma_sql(a):
    z = f"(CAST({a[0]} AS DOUBLE))"
    return (f"(CASE WHEN {z} >= 0.5 THEN exp({_lanczos_sql(z)}) "
            f"ELSE try_divide(pi(), sin(pi() * {z}) * "
            f"exp({_lanczos_sql(f'(1.0 - {z})')})) END)")


# round-4 small-gap SQL forms (clamp.cpp, sigmoid, blockNumber.cpp ...)
_RULES["clamp"] = lambda a: f"least(greatest({a[0]}, {a[1]}), {a[2]})"
_RULES["sigmoid"] = lambda a: f"(1.0 / (1.0 + exp(-({a[0]}))))"
_RULES["basename"] = lambda a: f"element_at(split({a[0]}, '/'), -1)"
_RULES["isnotdistinctfrom"] = lambda a: f"({a[0]} <=> {a[1]})"
_RULES["visiblewidth"] = lambda a: f"char_length(CAST({a[0]} AS STRING))"
_RULES["toweekyear"] = lambda a: (
    f"year(date_add(to_date(date_trunc('week', {a[0]})), 3))")
_RULES["toweekofweekyear"] = lambda a: f"weekofyear({a[0]})"
_RULES["blocknumber"] = lambda a: "CAST(spark_partition_id() AS BIGINT)"
_RULES["rownumberinblock"] = lambda a: (
    "(monotonically_increasing_id() & 8589934591)")
_RULES["mapcontainskey"] = lambda a: (
    f"CAST(map_contains_key({a[0]}, {a[1]}) AS INT)")
_RULES["tobool"] = lambda a: f"CAST({a[0]} AS BOOLEAN)"

_RULES["lgamma"] = _lgamma_sql
_RULES["tgamma"] = _tgamma_sql
_RULES["factorial"] = lambda a: (
    f"element_at(array({', '.join(str(__import__('math').factorial(i)) + 'L' for i in range(21))}), "
    f"CAST(CASE WHEN CAST({a[0]} AS BIGINT) BETWEEN 0 AND 20 "
    f"THEN CAST({a[0]} AS BIGINT) + 1 END AS INT))")

_RULES["tofixedstring"] = lambda a: f"rpad({a[0]}, {a[1]}, chr(0))"
_RULES["countmatches"] = lambda a: (
    f"size(regexp_extract_all({a[0]}, {a[1]}, 0))")
_RULES["positioncaseinsensitive"] = lambda a: (
    f"locate(lower({a[1]}), lower({a[0]}))")
_RULES["substringindex"] = lambda a: (
    f"substring_index({a[0]}, {a[1]}, {a[2]})")
def _apply_lambda(lam: str, *arg_exprs: str) -> str:
    """Textually beta-reduce a Spark-syntax lambda: ``x -> body`` with
    one arg, ``(k, v) -> body`` with two.  Used by the fold-based array
    rules, which must apply the user lambda to element_at(...) rather
    than pass it through."""
    head, _, body = lam.partition("->")
    params = [p.strip().strip("()") for p in head.strip().strip("()")
              .split(",")]
    for p, e in zip(params, arg_exprs):
        body = re.sub(rf"(?<![\w.`]){re.escape(p)}\b", f"({e})", body)
    return body.strip()


# array fill/split/set-op/shuffle family
# (arrayFill.cpp, arraySplit.cpp, arrayIntersect.cpp arrayUnion/
# arraySymmetricDifference, arrayShuffle.cpp, bitmaskToList.cpp)
def _seq1_sql(n: str) -> str:
    return f"filter(sequence(1, greatest({n}, 1)), i_ -> i_ <= {n})"


_RULES["arrayfill"] = lambda a: (
    f"aggregate({_seq1_sql(f'size({a[1]})')}, slice({a[1]}, 1, 0), "
    f"(acc_, i_) -> concat(acc_, array(CASE WHEN i_ = 1 OR "
    f"({_apply_lambda(a[0], f'element_at({a[1]}, i_)')}) "
    f"THEN element_at({a[1]}, i_) ELSE element_at(acc_, -1) END)))")
_RULES["arrayreversefill"] = lambda a: (
    "reverse(" + _RULES["arrayfill"]([a[0], f"reverse({a[1]})"]) + ")")
_RULES["arraysplit"] = lambda a: (
    f"transform(concat(array(1), filter({_seq1_sql(f'size({a[1]})')}, "
    f"i_ -> i_ > 1 AND ({_apply_lambda(a[0], f'element_at({a[1]}, i_)')}))), "
    f"(s_, k_) -> slice({a[1]}, s_, CAST(coalesce(try_element_at("
    f"concat(array(1), filter({_seq1_sql(f'size({a[1]})')}, "
    f"i_ -> i_ > 1 AND ({_apply_lambda(a[0], f'element_at({a[1]}, i_)')}))), "
    f"CAST(k_ + 2 AS INT)), size({a[1]}) + 1) - s_ AS INT)))")
_RULES["arrayunion"] = lambda a: (
    f"array_distinct(concat({', '.join(a)}))")
_RULES["arraysymmetricdifference"] = lambda a: (
    f"filter(array_distinct(concat({', '.join(a)})), e_ -> NOT ("
    + " AND ".join(f"array_contains({x}, e_)" for x in a) + "))")
_RULES["arrayshuffle"] = lambda a: (
    f"transform(array_sort(transform({a[0]}, (x_, i_) -> "
    f"struct(xxhash64(CAST(x_ AS STRING), i_, "
    f"{a[1] if len(a) > 1 else '0'}) AS h, x_ AS v))), s_ -> s_.v)")
_RULES["arraypartialshuffle"] = lambda a: _RULES["arrayshuffle"](
    [a[0]] + ([a[2]] if len(a) > 2 else []))
_RULES["mapapply"] = lambda a: (
    f"map_from_entries(transform(map_entries({a[1]}), e_ -> "
    f"{_apply_lambda(a[0], 'e_.key', 'e_.value')}))")
_RULES["mapexists"] = lambda a: (
    f"CAST(exists(map_entries({a[1]}), e_ -> "
    f"{_apply_lambda(a[0], 'e_.key', 'e_.value')}) AS INT)")
_RULES["mapall"] = lambda a: (
    f"CAST(forall(map_entries({a[1]}), e_ -> "
    f"{_apply_lambda(a[0], 'e_.key', 'e_.value')}) AS INT)")
_RULES["mapcontainsvalue"] = lambda a: (
    f"CAST(array_contains(map_values({a[0]}), {a[1]}) AS INT)")
_RULES["mapcontainsvaluelike"] = lambda a: (
    f"CAST(exists(map_values({a[0]}), v_ -> v_ LIKE {a[1]}) AS INT)")
_RULES["mapextractvaluelike"] = lambda a: (
    f"map_filter({a[0]}, (k_, v_) -> v_ LIKE {a[1]})")
_RULES["bitpositionstoarray"] = lambda a: (
    f"filter(sequence(0, 63), b_ -> getbit(CAST({a[0]} AS BIGINT), b_) = 1)")
def _bitmask_terms(a0: str):
    """Constant-fold bitmaskToList/Array over a literal (or
    toIntN/toUIntN(literal)) argument: the decomposition runs over the
    argument's NATIVE width — the top bit of a SIGNED type contributes
    the type minimum (bitmaskToList.cpp; golden 00839: Int8 -1 →
    1,2,4,8,16,32,64,-128).  Returns None when not foldable."""
    s = a0.strip()
    signed, width = True, None
    m = re.fullmatch(r"(?i)to(U?)Int(8|16|32|64)\s*\(\s*"
                     r"([+-]?\d+)\s*\)", s)
    if m:
        signed = not m.group(1)
        width = int(m.group(2))
        v = int(m.group(3))
    elif re.fullmatch(r"[+-]?\d+", s):
        v = int(s)
        # CH literal typing: smallest signed type for negatives,
        # smallest unsigned for non-negatives
        if v < 0:
            for w in (8, 16, 32, 64):
                if v >= -(1 << (w - 1)):
                    width = w
                    break
        else:
            signed = False
            for w in (8, 16, 32, 64):
                if v < (1 << w):
                    width = w
                    break
    if width is None:
        return None
    bits = v & ((1 << width) - 1)
    terms = []
    for i in range(width):
        if bits >> i & 1:
            if signed and i == width - 1:
                terms.append(-(1 << i))
            else:
                terms.append(1 << i)
    return terms


def _bitmask_to_array_rule(a):
    t = _bitmask_terms(a[0])
    if t is not None:
        return "array(" + ", ".join(f"CAST({x} AS BIGINT)"
                                    for x in t) + ")"
    return (f"transform(filter(sequence(0, 63), "
            f"b_ -> getbit(CAST({a[0]} AS BIGINT), b_) = 1), "
            f"b_ -> CASE WHEN b_ = 63 THEN -9223372036854775808 "
            f"ELSE CAST(pow(2.0, b_) AS BIGINT) END)")


_RULES["bitmasktoarray"] = _bitmask_to_array_rule
_RULES["bitmasktolist"] = lambda a: (
    "array_join(transform(" + _RULES["bitmasktoarray"](a)
    + ", v_ -> CAST(v_ AS STRING)), ',')")


# datetime long-tail (now64.cpp, parseDateTime.cpp *InJodaSyntax,
# fromDaysSinceYearZero.cpp, UTCTimestamp.cpp)
_RULES["now64"] = lambda a: "current_timestamp()"
_RULES["timediff"] = lambda a: (
    f"(unix_timestamp({a[1]}) - unix_timestamp({a[0]}))")
_RULES["adddate"] = lambda a: f"({a[0]} + {a[1]})"
_RULES["subdate"] = lambda a: f"({a[0]} - {a[1]})"
_RULES["toutctimestamp"] = lambda a: f"to_utc_timestamp({a[0]}, {a[1]})"
_RULES["fromutctimestamp"] = lambda a: f"from_utc_timestamp({a[0]}, {a[1]})"
_RULES["parsedatetimeinjodasyntax"] = lambda a: (
    f"to_timestamp({a[0]}, {a[1]})")
_RULES["parsedatetimeinjodasyntaxornull"] = lambda a: (
    f"try_to_timestamp({a[0]}, {a[1]})")
_RULES["parsedatetimeinjodasyntaxorzero"] = lambda a: (
    f"coalesce(try_to_timestamp({a[0]}, {a[1]}), "
    f"CAST('1970-01-01 00:00:00' AS TIMESTAMP))")
_RULES["parsedatetime64injodasyntax"] = _RULES["parsedatetimeinjodasyntax"]
_RULES["parsedatetime64injodasyntaxornull"] = \
    _RULES["parsedatetimeinjodasyntaxornull"]
_RULES["parsedatetime64injodasyntaxorzero"] = \
    _RULES["parsedatetimeinjodasyntaxorzero"]
_RULES["formatdatetimeinjodasyntax"] = lambda a: (
    f"date_format({a[0]}, {a[1]})")
_RULES["fromunixtimestampinjodasyntax"] = lambda a: (
    f"date_format(timestamp_seconds({a[0]}), {a[1]})")
_RULES["fromdayssinceyearzero"] = lambda a: (
    f"date_add(DATE'1970-01-01', CAST(({a[0]}) - 719528 AS INT))")
_RULES["fromdayssinceyearzero32"] = _RULES["fromdayssinceyearzero"]
_RULES["tomillisecond"] = lambda a: (
    f"CAST(floor(pmod(unix_micros(CAST({a[0]} AS TIMESTAMP)), 1000000) "
    f"/ 1000) AS INT)")
_RULES["yyyymmddhhmmsstodatetime"] = lambda a: (
    f"to_timestamp(lpad(CAST(CAST({a[0]} AS DECIMAL(20,0)) AS STRING), "
    f"14, '0'), 'yyyyMMddHHmmss')")
_RULES["yyyymmddtodate"] = lambda a: (
    f"to_date(lpad(CAST(CAST({a[0]} AS BIGINT) AS STRING), 8, '0'), "
    f"'yyyyMMdd')")
_RULES["makedatetime64"] = lambda a: (
    f"make_timestamp({', '.join(a[:6])})")

# search-variant family (MultiSearchImpl.h / HasSubsequenceImpl.h
# case-insensitive forms; UTF8 forms are the base impl — Spark strings
# are code-point addressed)
_RULES["countsubstringscaseinsensitive"] = lambda a: (
    f"((length(lower({a[0]})) - length(replace(lower({a[0]}), "
    f"lower({a[1]}), ''))) DIV length({a[1]}))")
_RULES["countmatchescaseinsensitive"] = lambda a: (
    f"size(regexp_extract_all({a[0]}, concat('(?i)', {a[1]}), 0))")
_RULES["notilike"] = lambda a: f"(NOT ({a[0]} ILIKE {a[1]}))"
_RULES["hassubsequence"] = lambda a: (
    # chars-in-order-with-gaps; needle must be a string literal
    f"CAST({a[0]} RLIKE concat('(?s).*', "
    f"array_join(transform(split({a[1]}, ''), "
    f"c -> concat('\\\\Q', c, '\\\\E.*')), '')) AS INT)")
_RULES["hassubsequencecaseinsensitive"] = lambda a: (
    f"CAST(lower({a[0]}) RLIKE concat('(?s).*', "
    f"array_join(transform(split(lower({a[1]}), ''), "
    f"c -> concat('\\\\Q', c, '\\\\E.*')), '')) AS INT)")
_RULES["hassubstr"] = lambda a: (
    f"(CASE WHEN size({a[1]}) = 0 THEN 1 ELSE CAST(exists("
    f"sequence(1, greatest(size({a[0]}) - size({a[1]}) + 1, 1)), "
    f"i -> i <= size({a[0]}) - size({a[1]}) + 1 AND "
    f"slice({a[0]}, i, size({a[1]})) = {a[1]}) AS INT) END)")
_RULES["comparesubstrings"] = lambda a: (
    f"(CASE WHEN substring({a[0]}, ({a[2]}) + 1, {a[4]}) < "
    f"substring({a[1]}, ({a[3]}) + 1, {a[4]}) THEN -1 "
    f"WHEN substring({a[0]}, ({a[2]}) + 1, {a[4]}) > "
    f"substring({a[1]}, ({a[3]}) + 1, {a[4]}) THEN 1 ELSE 0 END)")
_RULES["multimatchany"] = lambda a: (
    f"CAST(exists({a[1]}, p -> {a[0]} RLIKE p) AS INT)")
_RULES["multimatchallindices"] = lambda a: (
    f"filter(transform(sequence(1, size({a[1]})), "
    f"i -> CASE WHEN {a[0]} RLIKE element_at({a[1]}, i) THEN i END), "
    f"v -> v IS NOT NULL)")
_RULES["multimatchanyindex"] = lambda a: (
    f"coalesce(array_min(filter(transform(sequence(1, size({a[1]})), "
    f"i -> CASE WHEN {a[0]} RLIKE element_at({a[1]}, i) THEN i END), "
    f"v -> v IS NOT NULL)), 0)")
for _ci_name, _base_name in [
        ("positioncaseinsensitiveutf8", "positioncaseinsensitive"),
        ("multisearchanyutf8", "multisearchany"),
        ("hassubsequenceutf8", "hassubsequence"),
        ("hassubsequencecaseinsensitiveutf8", "hassubsequencecaseinsensitive"),
        ("editdistanceutf8", "editdistance"),
        ("levenshteindistanceutf8", "levenshteindistance"),
        ("reverseutf8", "reverse"), ("translateutf8", "translate"),
        ("initcaputf8", "initcap")]:
    if _base_name in _RULES:
        _RULES[_ci_name] = _RULES[_base_name]
# multiSearch family over ARBITRARY needle arrays (the registry's
# bridged forms need literal needles; these higher-order forms accept
# any array expression — MultiSearchAllPositionsImpl semantics: 1-based
# positions, 0 = not found)
# an EMPTY needle never matches (MultiSearchFirstIndexImpl's
# Volnitsky searcher skips zero-length needles)
_RULES["multisearchany"] = lambda a: (
    f"(exists({a[1]}, __p -> length(__p) > 0 "
    f"AND instr({a[0]}, __p) > 0))")
_RULES["multisearchfirstindex"] = lambda a: (
    f"coalesce(array_position(transform({a[1]}, "
    f"__p -> length(__p) > 0 AND instr({a[0]}, __p) > 0), true), 0)")
_RULES["multisearchfirstposition"] = lambda a: (
    f"coalesce(array_min(filter(transform({a[1]}, "
    f"__p -> CASE WHEN length(__p) = 0 THEN 0 "
    f"ELSE instr({a[0]}, __p) END), __x -> __x > 0)), 0)")
_RULES["multisearchallpositions"] = lambda a: (
    f"transform({a[1]}, __p -> CASE WHEN length(__p) = 0 THEN 0 "
    f"ELSE instr({a[0]}, __p) END)")
_RULES["multisearchanyutf8"] = _RULES["multisearchany"]
_RULES["arrayreversesort"] = lambda a: f"reverse(array_sort({a[0]}))"
_RULES["arraypartialsort"] = lambda a: (
    # first-n-sorted contract; the tail's order is unspecified in the
    # reference, so a full sort satisfies it (arrayPartialSort.cpp)
    f"array_sort({a[1]})")
_RULES["arrayrotateleft"] = lambda a: (
    f"concat(slice({a[0]}, pmod({a[1]}, size({a[0]})) + 1, "
    f"size({a[0]}) - pmod({a[1]}, size({a[0]}))), "
    f"slice({a[0]}, 1, pmod({a[1]}, size({a[0]}))))")
_RULES["arrayrotateright"] = lambda a: (
    f"concat(slice({a[0]}, pmod(-({a[1]}), size({a[0]})) + 1, "
    f"size({a[0]}) - pmod(-({a[1]}), size({a[0]}))), "
    f"slice({a[0]}, 1, pmod(-({a[1]}), size({a[0]}))))")
def _array_shift_default_check(a) -> None:
    """arrayShiftLeft/Right's fill DEFAULT must match the element type
    (reference src/Functions/array/arrayShiftRotate.cpp): a literal
    string default against a numeric-literal array (or vice versa) is
    ILLEGAL_TYPE_OF_ARGUMENT."""
    if len(a) <= 2:
        return
    m = re.fullmatch(r"(?is)\s*array\s*\((.*)\)\s*", a[0])
    if m is None or not m.group(1).strip():
        return
    elems = _split_top_commas(m.group(1))
    elems_str = all(e.strip().startswith("'") for e in elems)
    elems_num = all(re.fullmatch(r"-?\d+(?:\.\d+)?", e.strip())
                    for e in elems)
    d = a[2].strip()
    d_str = d.startswith("'")
    d_num = bool(re.fullmatch(r"-?\d+(?:\.\d+)?", d))
    if (elems_str and d_num) or (elems_num and d_str):
        raise ValueError(
            "arrayShift: default value type does not match the array "
            "element type (reference ILLEGAL_TYPE_OF_ARGUMENT)")


def _array_shift_fill(a) -> str:
    """The no-fill default is the ELEMENT TYPE's default (0 / '' /
    empty array — arrayShiftRotate.cpp uses the column default), not
    NULL; sniffed textually from literal arrays, NULL when unknown."""
    if len(a) > 2:
        return a[2]
    m = re.fullmatch(r"(?is)\s*array\s*\((.*)\)\s*", a[0])
    if m and m.group(1).strip():
        first = _split_top_commas(m.group(1))[0].strip()
        if re.fullmatch(r"-?\d+", first):
            return "0"
        if re.fullmatch(r"-?\d*\.\d+", first):
            return "0.0"
        if first.startswith("'"):
            return "''"
        if re.match(r"(?is)array\s*\(", first):
            return "array()"
    fm = re.search(r"(?i)AS\s+ARRAY\s*<\s*(\w+)\s*>", a[0])
    if fm:
        t = fm.group(1).upper()
        return ("''" if t == "STRING"
                else "0.0" if t in ("FLOAT", "DOUBLE") else "0")
    cm = re.fullmatch(r"\s*`?(\w+)`?\s*", a[0])
    if cm:
        d = _ARRAY_ELEM_DEFAULTS.get(cm.group(1).lower())
        if d is not None:
            return d
    return "NULL"


_ARRAY_ELEM_DEFAULTS: dict = {}


def _shift_left_sql(arr: str, n: str, fill: str) -> str:
    return (f"concat(slice({arr}, LEAST({n}, size({arr})) + 1, "
            f"GREATEST(size({arr}) - ({n}), 0)), "
            f"array_repeat({fill}, LEAST({n}, size({arr}))))")


def _shift_right_sql(arr: str, n: str, fill: str) -> str:
    return (f"concat(array_repeat({fill}, "
            f"LEAST({n}, size({arr}))), "
            f"slice({arr}, 1, GREATEST(size({arr}) - ({n}), 0)))")


def _array_shift_left_rule(a):
    # a negative count shifts the OPPOSITE direction
    # (arrayShiftRotate.cpp; golden 02845 arrayShiftLeft(a, -3))
    _array_shift_default_check(a)
    fill = _array_shift_fill(a)
    if re.fullmatch(r"\s*\d+\s*", a[1]):
        return _shift_left_sql(a[0], a[1], fill)
    if re.fullmatch(r"\s*-\d+\s*", a[1]):
        return _shift_right_sql(a[0], str(-int(a[1])), fill)
    return (f"IF(({a[1]}) < 0, "
            f"{_shift_right_sql(a[0], f'-({a[1]})', fill)}, "
            f"{_shift_left_sql(a[0], f'({a[1]})', fill)})")


def _array_shift_right_rule(a):
    _array_shift_default_check(a)
    fill = _array_shift_fill(a)
    if re.fullmatch(r"\s*\d+\s*", a[1]):
        return _shift_right_sql(a[0], a[1], fill)
    if re.fullmatch(r"\s*-\d+\s*", a[1]):
        return _shift_left_sql(a[0], str(-int(a[1])), fill)
    return (f"IF(({a[1]}) < 0, "
            f"{_shift_left_sql(a[0], f'-({a[1]})', fill)}, "
            f"{_shift_right_sql(a[0], f'({a[1]})', fill)})")


_RULES["arrayshiftleft"] = _array_shift_left_rule
_RULES["arrayshiftright"] = _array_shift_right_rule
_RULES["arrayresize"] = lambda a: (
    f"CASE WHEN ({a[1]}) <= size({a[0]}) THEN slice({a[0]}, 1, {a[1]}) "
    f"ELSE concat({a[0]}, array_repeat("
    f"{a[2] if len(a) > 2 else 'NULL'}, ({a[1]}) - size({a[0]}))) END")
_RULES["arraypushback"] = lambda a: f"array_append({a[0]}, {a[1]})"
_RULES["arraypushfront"] = lambda a: f"array_prepend({a[0]}, {a[1]})"
_RULES["arraypopback"] = lambda a: f"slice({a[0]}, 1, size({a[0]}) - 1)"
_RULES["arraypopfront"] = lambda a: f"slice({a[0]}, 2, size({a[0]}) - 1)"
_RULES["bitshiftleft"] = lambda a: f"shiftleft({a[0]}, {a[1]})"
_RULES["bitshiftright"] = lambda a: f"shiftright({a[0]}, {a[1]})"
_RULES["bitrotateleft"] = lambda a: (
    f"(shiftleft(CAST({a[0]} AS BIGINT), {a[1]}) | "
    f"shiftrightunsigned(CAST({a[0]} AS BIGINT), 64 - ({a[1]})))")
_RULES["bitrotateright"] = lambda a: (
    f"(shiftrightunsigned(CAST({a[0]} AS BIGINT), {a[1]}) | "
    f"shiftleft(CAST({a[0]} AS BIGINT), 64 - ({a[1]})))")
_RULES["intexp2"] = lambda a: f"shiftleft(CAST(1 AS BIGINT), {a[0]})"
_RULES["intexp10"] = lambda a: f"CAST(power(10, {a[0]}) AS BIGINT)"

# float classification (FunctionsMiscellaneous): CH returns UInt8 0/1
_RULES["isnan"] = lambda a: f"CAST(isnan({a[0]}) AS INT)"
_RULES["isfinite"] = lambda a: (
    f"CAST((NOT isnan({a[0]}) AND abs({a[0]}) != double('inf')) AS INT)")
_RULES["isinfinite"] = lambda a: (
    f"CAST((abs({a[0]}) = double('inf')) AS INT)")
_RULES["ifnotfinite"] = lambda a: (
    f"CASE WHEN isnan({a[0]}) OR abs({a[0]}) = double('inf') "
    f"THEN {a[1]} ELSE {a[0]} END")

# array family SQL forms (src/Functions/array/)
# FunctionArrayMapped: these accept an optional mapper lambda FIRST
# (arrayDifference(x -> 0, a) diffs the mapped values) — the
# dispatcher folds the lambda into transform() before the base rule
_MAPPED_LAMBDA_FNS = {"arraydifference", "arraycumsum",
                      "arraycumsumnonnegative", "arraycompact"}


def _array_sort_rule(a, rev: bool = False):
    """arraySort/arrayReverseSort[(key_lambda,) arr] — the lambda is a
    SORT KEY (original values are returned); Spark's comparator-form
    array_sort expresses it by substituting the key body for both
    comparands."""
    if len(a) == 1:
        base = f"array_sort({a[0]})"
        return f"reverse({base})" if rev else base
    p = _lam_parts(a[0])
    if p is None or "," in p[0]:
        name = "arrayReverseSort" if rev else "arraySort"
        return f"{name}({', '.join(a)})"
    var = p[0].strip("()").strip()

    def key(x: str) -> str:
        return "(" + re.sub(rf"(?<![\w.`]){re.escape(var)}\b", x,
                            p[1]) + ")"

    lt, gt = ("1", "-1") if rev else ("-1", "1")
    return (f"array_sort({a[1]}, (__l, __r) -> CASE "
            f"WHEN {key('__l')} < {key('__r')} THEN {lt} "
            f"WHEN {key('__l')} > {key('__r')} THEN {gt} "
            f"ELSE 0 END)")


_RULES["arraysort"] = _array_sort_rule
_RULES["arrayreversesort"] = lambda a: _array_sort_rule(a, rev=True)

_RULES["arrayzip"] = lambda a: f"arrays_zip({', '.join(a)})"
# replicate(x, arr) (src/Functions/replicate.cpp — internal helper
# the corpus calls directly): x repeated once per arr element
_RULES["replicate"] = lambda a: (
    f"transform({a[1]}, __rp -> {a[0]})")
_RULES["arrayenumerate"] = lambda a: f"sequence(1, size({a[0]}))"
_RULES["arraydifference"] = lambda a: (
    f"transform(sequence(1, size({a[0]})), __i -> CASE WHEN __i = 1 "
    f"THEN 0 ELSE try_element_at({a[0]}, __i) - "
    f"try_element_at({a[0]}, __i - 1) END)")
_RULES["arraycumsum"] = lambda a: (
    f"transform(sequence(1, size({a[0]})), __i -> "
    f"aggregate(slice({a[0]}, 1, __i), CAST(0 AS DOUBLE), "
    f"(__s, __x) -> __s + __x))")
_RULES["arraystringconcat"] = lambda a: (
    f"array_join({a[0]}, {a[1] if len(a) > 1 else repr('')})")
# mapFilter((k,v) -> cond, m): Spark's map_filter with swapped args
_RULES["mapfilter"] = lambda a: f"map_filter({a[1]}, {a[0]})"

# typed JSONExtract* SQL forms (FunctionsJSON.cpp) — 1 or 2 path keys
def _json_path(a):
    keys = a[1:]
    if not keys:
        return "'$'"
    parts = ", '.', ".join(keys)
    return f"concat('$.', {parts})" if len(keys) > 1 else \
        f"concat('$.', {keys[0]})"


def _json_leaf_type_sql(v: str) -> str:
    """JSON dynamic-type name of one extracted value (the same
    heuristic as operators/jsonpaths._jtype — get_json_object loses
    original quoting, so numeric strings conflate; LIMITS)."""
    return (f"CASE WHEN {v} IS NULL THEN 'Null' "
            f"WHEN {v} RLIKE '^[{{]' THEN 'Object' "
            f"WHEN {v} RLIKE '^[\\\\[]' THEN 'Array(Nullable(String))' "
            f"WHEN {v} IN ('true','false') THEN 'Bool' "
            f"WHEN {v} RLIKE '^-?[0-9]+$' THEN 'Int64' "
            f"WHEN {v} RLIKE '^-?[0-9]+([.][0-9]+)?([eE][+-]?[0-9]+)?$'"
            f" THEN 'Float64' ELSE 'String' END")


def _json_all_paths_sql(j: str, with_types: bool = False) -> str:
    """Leaf dot-paths of ONE JSON value (reference JSONAllPaths /
    JSONAllPathsWithTypes over the JSON type's path set,
    src/Functions/JSONPaths.cpp): depth-2 walk — top-level keys that
    hold objects recurse one level, everything else is a leaf.  Flat
    dotted keys ({"a.b.c": 1}) are already reference-style paths."""
    v1 = f"get_json_object({j}, concat('$[''', __jk, ''']'))"
    v2 = f"get_json_object({v1}, concat('$[''', __jk2, ''']'))"
    if with_types:
        leaf1 = (f"named_struct('col1', __jk, 'col2', "
                 f"{_json_leaf_type_sql(v1)})")
        leaf2 = (f"named_struct('col1', concat(__jk, '.', __jk2), "
                 f"'col2', {_json_leaf_type_sql(v2)})")
    else:
        leaf1 = "__jk"
        leaf2 = "concat(__jk, '.', __jk2)"
    return (f"array_sort(flatten(transform(coalesce("
            f"json_object_keys({j}), array()), __jk -> "
            f"CASE WHEN {v1} RLIKE '^[{{]' THEN "
            f"transform(coalesce(json_object_keys({v1}), array()), "
            f"__jk2 -> {leaf2}) ELSE array({leaf1}) END)))")


# untuple(t) expands a tuple into its elements as separate columns
# (reference src/Interpreters/untuple — an ExpressionList expansion);
# Spark's struct star-expansion is the same operation at projection
# top level
_RULES["untuple"] = lambda a: f"{a[0].strip()}.*"

_RULES["jsonallpaths"] = lambda a: _json_all_paths_sql(a[0])
# the *WithTypes forms return Map(String, String) in the reference
# (renders {'path':'Type'}); arrayJoin over them yields (k, v) tuples
# — see the explode(map_from_entries(X)) unwrap in translate_ch_sql
# __chmap_ss__/__chmap_sa__ sentinels: PySpark's collect() does NOT
# preserve map entry order (py4j hash iteration), so CH map renderings
# must be built JVM-side — the late pass in translate_ch_sql either
# unwraps them under arrayJoin/explode or renders the sorted CH text
# form directly (golden 03270: sorted path order)
_RULES["jsonallpathswithtypes"] = lambda a: (
    f"__chmap_ss__(map_from_entries("
    f"{_json_all_paths_sql(a[0], with_types=True)}))")
# storage-split introspection: this engine has no dynamic/shared
# column split — every path is dynamic, shared data is empty
# (reference ColumnObject max_dynamic_paths overflow; LIMITS)
_RULES["jsondynamicpaths"] = lambda a: _json_split_paths_sql(a[0], False)
_RULES["jsonshareddatapaths"] = lambda a: _json_split_paths_sql(a[0], True)
_RULES["jsondynamicpathswithtypes"] = lambda a: \
    _json_split_paths_types_sql(a[0], False)
_RULES["jsonshareddatapathswithtypes"] = lambda a: \
    _json_split_paths_types_sql(a[0], True)
# type-frequency overflow inside the Dynamic column is column-global
# statistics the string carrier does not model — always false (LIMITS)
_RULES["isdynamicelementinshareddata"] = lambda a: "false"
# aggregate forms: distinct paths (and types) across ROWS
# (reference src/AggregateFunctions/
# AggregateFunctionDistinctJSONPaths.cpp; DataFrame operator at
# operators/jsonpaths.py — this is the SQL-name bridge).
# distinctJSONPathsAndTypes returns Map(String, Array(String)):
# every type seen per path
_RULES["distinctjsonpaths"] = lambda a: (
    f"array_sort(array_distinct(flatten(collect_list("
    f"{_json_all_paths_sql(a[0])}))))")


def _distinct_json_paths_types_rule(a):
    pairs = (f"flatten(collect_list("
             f"{_json_all_paths_sql(a[0], with_types=True)}))")
    return (f"__chmap_sa__(map_from_entries(transform(array_sort("
            f"array_distinct(transform({pairs}, __jp -> __jp.col1))), "
            f"__jk3 -> struct(__jk3, array_sort(array_distinct("
            f"transform(filter({pairs}, __jp2 -> __jp2.col1 = __jk3), "
            f"__jp3 -> __jp3.col2)))))))")


_RULES["distinctjsonpathsandtypes"] = _distinct_json_paths_types_rule
# distinctDynamicTypes(d): the set of dynamic type names a Dynamic
# column carried (AggregateFunctionDistinctDynamicTypes.cpp) — over
# the string carrier, sniff each value's type
_RULES["distinctdynamictypes"] = lambda a: (
    f"array_sort(array_distinct(collect_list("
    f"{_json_leaf_type_sql(a[0])})))")


_RULES["jsonextractint"] = lambda a: (
    f"CAST(get_json_object({a[0]}, {_json_path(a)}) AS BIGINT)")
_RULES["jsonextractuint"] = lambda a: (
    f"CAST(get_json_object({a[0]}, {_json_path(a)}) AS BIGINT)")
_RULES["jsonextractfloat"] = lambda a: (
    f"CAST(get_json_object({a[0]}, {_json_path(a)}) AS DOUBLE)")
_RULES["jsonextractstring"] = lambda a: (
    f"get_json_object({a[0]}, {_json_path(a)})")
_RULES["jsonextractraw"] = lambda a: (
    f"get_json_object({a[0]}, {_json_path(a)})")
_RULES["jsonextractbool"] = lambda a: (
    f"CAST(get_json_object({a[0]}, {_json_path(a)}) = 'true' AS INT)")
_RULES["jsonhas"] = lambda a: (
    f"CAST(get_json_object({a[0]}, {_json_path(a)}) IS NOT NULL AS INT)")
# greatest() (NULL-skipping) instead of coalesce(): under
# spark.sql.legacy.sizeOfNull=true (non-ANSI default) size(NULL) is -1,
# not NULL, and coalesce would take the failed branch — greatest picks
# the parsed one in BOTH session modes (r7 lesson: green under the
# driver's ANSI session, red locally)
_RULES["jsonlength"] = lambda a: (
    f"greatest(size(from_json(get_json_object({a[0]}, {_json_path(a)}), "
    f"'array<string>')), size(from_json(get_json_object({a[0]}, "
    f"{_json_path(a)}), 'map<string,string>')))")

# ---- generic typed JSONExtract family (FunctionsJSON.cpp: the last
# argument is a CH type literal; values deserialize to that type).
# CH returns a default-constructed value on type mismatch where this
# emits NULL — the documented difference (LIMITS.md JSON family note).

_CH_SCALAR_DDL = {
    "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT",
    "int64": "BIGINT", "int128": "DECIMAL(38,0)",
    "int256": "DECIMAL(38,0)", "uint8": "SMALLINT", "uint16": "INT",
    "uint32": "BIGINT", "uint64": "DECIMAL(20,0)",
    "uint128": "DECIMAL(38,0)", "uint256": "DECIMAL(38,0)",
    "int": "INT", "integer": "INT", "bigint": "BIGINT",
    "smallint": "SMALLINT", "tinyint": "TINYINT",
    "float32": "FLOAT", "float64": "DOUBLE", "float": "FLOAT",
    "double": "DOUBLE", "bfloat16": "FLOAT", "string": "STRING",
    "bool": "BOOLEAN", "boolean": "BOOLEAN", "uuid": "STRING",
    "date": "DATE", "date32": "DATE", "datetime": "TIMESTAMP",
    "json": "STRING",
}


def _split_type_args(s: str) -> list:
    out, depth, cur = [], 0, []
    for c in s:
        if c == "(" or c == "<":
            depth += 1
        elif c == ")" or c == ">":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if cur:
        out.append("".join(cur))
    return [x.strip() for x in out if x.strip()]


def _ch_type_ddl(t: str):
    """CH type text -> Spark DDL string, or ('tuple', [elem_ddl...])
    for UNNAMED tuples (positional — no DDL form), or None when
    unmapped."""
    t = t.strip()
    m = re.fullmatch(r"(?is)(?:Nullable|LowCardinality)\s*\((.*)\)", t)
    if m:
        return _ch_type_ddl(m.group(1))
    low = t.lower()
    if low in _CH_SCALAR_DDL:
        return _CH_SCALAR_DDL[low]
    if re.fullmatch(r"(?i)(FixedString|Binary)\s*\(\s*\d+\s*\)", t):
        # BINARY(N) is MySQL-compat for FixedString(N) (golden 02969)
        return "STRING"
    if re.fullmatch(r"(?is)Enum(8|16)?\s*\(.*\)", t):
        return "STRING"              # enums carry their string value
    if re.fullmatch(r"(?i)DateTime64\s*\(.*\)", t) \
            or re.fullmatch(r"(?i)DateTime\s*\(.*\)", t):
        return "TIMESTAMP"
    m = re.fullmatch(r"(?i)Decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        # CH Decimal(p, s) stores at the underlying width (Decimal32/
        # 64/128 by p) and accepts any value that fits the WIDTH, not
        # p — carry at the storage width so e.g. Decimal(10, 5)
        # keeps 13 integer digits like the reference
        declared = int(m.group(1))
        p = 9 if declared <= 9 else 18 if declared <= 18 else 38
        return f"DECIMAL({p},{min(int(m.group(2)), p)})"
    m = re.fullmatch(r"(?i)Decimal(32|64|128|256)\s*\(\s*(\d+)\s*\)", t)
    if m:
        p = {"32": 9, "64": 18, "128": 38, "256": 38}[m.group(1)]
        return f"DECIMAL({p},{min(int(m.group(2)), p)})"
    m = re.fullmatch(r"(?is)Array\s*\((.*)\)", t)
    if m:
        inner = _ch_type_ddl(m.group(1))
        return (f"ARRAY<{inner}>"
                if isinstance(inner, str) else None)
    m = re.fullmatch(r"(?is)Map\s*\((.*)\)", t)
    if m:
        parts = _split_type_args(m.group(1))
        if len(parts) == 2:
            k, v = _ch_type_ddl(parts[0]), _ch_type_ddl(parts[1])
            if isinstance(k, str) and isinstance(v, str):
                return f"MAP<{k},{v}>"
        return None
    m = re.fullmatch(r"(?is)Nested\s*\((.*)\)", t)
    if m:
        # Nested(a T, b U) is Array(Tuple(a T, b U)) flattened storage
        inner = _ch_type_ddl(f"Tuple({m.group(1)})")
        if isinstance(inner, tuple):
            inner = ("STRUCT<" + ",".join(
                f"`col{i + 1}`:{d}" for i, d in enumerate(inner[1])) + ">")
        return f"ARRAY<{inner}>" if inner else None
    m = re.fullmatch(r"(?is)Tuple\s*\((.*)\)", t)
    if m:
        parts = _split_type_args(m.group(1))
        named, unnamed = [], []
        for p in parts:
            whole = _ch_type_ddl(p)
            if whole is not None:
                unnamed.append(whole)
                continue
            nm = re.match(r"^(`[^`]*`|[A-Za-z_][A-Za-z0-9_]*)\s+(.+)$",
                          p, re.DOTALL)
            if not nm:
                return None
            d = _ch_type_ddl(nm.group(2))
            if d is None or isinstance(d, tuple):
                return None
            name = nm.group(1)
            if not name.startswith("`"):
                name = f"`{name}`"
            named.append(f"{name}:{d}")
        if named and not unnamed:
            return f"STRUCT<{','.join(named)}>"
        if unnamed and not named \
                and all(isinstance(u, str) for u in unnamed):
            return ("tuple", unnamed)
        return None
    return None


def _is_scalar_ddl(d: str) -> bool:
    return not d.upper().startswith(("ARRAY<", "MAP<", "STRUCT<"))


def _jsonextract_typed(a):
    fallback = f"JSONExtract({', '.join(a)})"
    ty = a[-1].strip()
    if len(a) < 2 or not (ty.startswith("'") and ty.endswith("'")):
        return fallback
    ddl = _ch_type_ddl(ty[1:-1])
    raw = (f"get_json_object({a[0]}, {_json_path(a[:-1])})"
           if len(a) > 2 else a[0])
    fsm = re.fullmatch(
        r"(?is)(?:LowCardinality\s*\(\s*)?FixedString\s*\(\s*(\d+)"
        r"\s*\)\s*\)?", ty[1:-1].strip())
    if fsm:
        # FixedString(N) return type (FunctionsJSON.cpp
        # JSONExtractFixedStringImpl): the value's canonical text,
        # zero-PADDED to N; longer-than-N (or absent) yields the
        # default — N zero bytes.  Whole-document extraction uses the
        # compact canonical render.
        n = int(fsm.group(1))
        base = (raw if len(a) > 2
                else f"to_json(parse_json({a[0]}))")
        return (f"CASE WHEN {base} IS NULL OR length({base}) > {n} "
                f"THEN repeat(chr(0), {n}) "
                f"ELSE rpad({base}, {n}, chr(0)) END")
    if ddl is None:
        # Map(K, Tuple(...)) with an UNNAMED tuple value (golden
        # 00918: 'Map(String, Tuple(String, Float64))') — parse the
        # object to raw value strings, convert each value through the
        # positional tuple recipe, and carry the map as its ORDERED
        # entry array (tsvrender prints it CH map-style; MapType
        # collect would scramble entry order)
        mm = re.fullmatch(r"(?is)Map\s*\((.*)\)", ty[1:-1].strip())
        if mm:
            parts = _split_type_args(mm.group(1))
            if len(parts) == 2:
                vddl = _ch_type_ddl(parts[1])
                if isinstance(vddl, tuple):
                    ve = f"from_json(__mv.value, 'array<string>')"
                    fields = []
                    for i, d in enumerate(vddl[1]):
                        e = f"element_at({ve}, {i + 1})"
                        fields.append(
                            f"'col{i + 1}', "
                            + (f"CAST({e} AS {d})" if _is_scalar_ddl(d)
                               else f"from_json({e}, '{d}')"))
                    return (f"transform(map_entries(from_json({raw}, "
                            f"'map<string,string>')), __mv -> "
                            f"named_struct('key', __mv.key, 'value', "
                            f"named_struct({', '.join(fields)})))")
        return fallback
    if isinstance(ddl, tuple):
        # unnamed tuple: positional over the object's values (order
        # preserved by from_json's sequential parse) or the array's
        # elements — both carried as raw-ish strings
        vals = (f"coalesce(map_values(from_json({raw}, "
                f"'map<string,string>')), "
                f"from_json({raw}, 'array<string>'))")
        fields = []
        for i, d in enumerate(ddl[1]):
            e = f"element_at({vals}, {i + 1})"
            fields.append(
                f"'col{i + 1}', "
                + (f"CAST({e} AS {d})" if _is_scalar_ddl(d)
                   else f"from_json({e}, '{d}')"))
        return f"named_struct({', '.join(fields)})"
    if _is_scalar_ddl(ddl):
        return f"CAST({raw} AS {ddl})"
    return f"from_json({raw}, '{ddl}')"


def _json_kv_typed(a):
    fallback = f"JSONExtractKeysAndValues({', '.join(a)})"
    ty = a[-1].strip()
    if len(a) < 2 or not (ty.startswith("'") and ty.endswith("'")):
        return fallback
    ddl = _ch_type_ddl(ty[1:-1])
    if ddl is None or isinstance(ddl, tuple):
        return fallback
    raw = (f"get_json_object({a[0]}, {_json_path(a[:-1])})"
           if len(a) > 2 else a[0])
    val = ("CAST(e.value AS " + ddl + ")" if _is_scalar_ddl(ddl)
           else f"from_json(e.value, '{ddl}')")
    return (f"transform(map_entries(from_json({raw}, "
            f"'map<string,string>')), "
            f"e -> named_struct('col1', e.key, 'col2', {val}))")


def _json_kv_raw(a):
    raw = (f"get_json_object({a[0]}, {_json_path(a)})"
           if len(a) > 1 else a[0])
    # a non-object at the path yields the EMPTY pair array (the
    # reference's simdjson walk finds no members) — try_parse_json +
    # coalesce keeps scalar text from hard-failing the parse
    return (f"coalesce(transform(json_object_keys({raw}), "
            f"k -> named_struct('col1', k, 'col2', "
            f"to_json(try_variant_get(try_parse_json({raw}), "
            f"concat('$.', k), 'variant')))), "
            f"array())")


def _json_key(a):
    if len(a) < 2:
        return f"JSONKey({', '.join(a)})"
    raw = (f"get_json_object({a[0]}, {_json_path(a[:-1])})"
           if len(a) > 2 else a[0])
    return f"element_at(json_object_keys({raw}), CAST({a[-1]} AS INT))"


_TSOI_MICROS = {
    "microsecond": 1, "millisecond": 1000, "second": 1_000_000,
    "minute": 60_000_000, "hour": 3_600_000_000,
    "day": 86_400_000_000, "week": 604_800_000_000,
}
_TSOI_MONTHS = {"month": 1, "quarter": 3, "year": 12}


def _validate_tsoi_origin(raw_args) -> None:
    """toStartOfInterval 3-arg ORIGIN checks over the RAW argument
    texts (toStartOfInterval.cpp): origin must share the value's
    exact type, must not exceed it, and Date values reject sub-day
    intervals."""
    def fam(x):
        fm2 = re.match(r"(?is)\s*(toDateTime64|toDateTime|"
                       r"toDate32|toDate)\s*\(\s*'([^']*)'", x)
        return (fm2.group(1).lower(), fm2.group(2)) if fm2 \
            else (None, None)
    if len(raw_args) > 4:
        raise ValueError(
            "toStartOfInterval: too many arguments (value, interval"
            "[, origin][, timezone]; reference "
            "NUMBER_OF_ARGUMENTS_DOESNT_MATCH)")
    if len(raw_args) == 4:
        # the 3rd slot must be the ORIGIN (a date/datetime), never a
        # timezone string or a number
        o3 = raw_args[2].strip()
        if o3.startswith("'") or re.fullmatch(r"-?\d+(\.\d+)?", o3):
            raise ValueError(
                "toStartOfInterval: 3rd of 4 arguments must be an "
                "origin date/datetime (reference "
                "ILLEGAL_TYPE_OF_ARGUMENT)")
    o_raw = raw_args[2].strip()
    if re.match(r"(?is)^materialize\s*\(", o_raw) or "?" in o_raw:
        # origin must be a CONSTANT (toStartOfInterval.cpp requires a
        # const column for the origin argument)
        raise ValueError(
            "toStartOfInterval: origin must be a constant "
            "(reference ILLEGAL_COLUMN)")
    if re.search(r"(?i)toInterval(Millisecond|Microsecond|Nanosecond)",
                 raw_args[1]) \
            and re.match(r"(?is)\s*toDateTime\s*\(", raw_args[0]) \
            and re.match(r"(?is)\s*toDateTime\s*\(", o_raw):
        # sub-second intervals need DateTime64 operands
        raise ValueError(
            "toStartOfInterval: sub-second interval over DateTime "
            "(needs DateTime64; reference ILLEGAL_TYPE_OF_ARGUMENT)")
    vf, vl = fam(raw_args[0])
    of, ol = fam(raw_args[2])
    if vf and of:
        if vf != of:
            raise ValueError(
                "toStartOfInterval: origin type must match the "
                "value type (reference BAD_ARGUMENTS)")
        if ol > vl:
            raise ValueError(
                "toStartOfInterval: origin is after the value "
                "(reference BAD_ARGUMENTS)")
        if vf in ("todate", "todate32") and re.search(
                r"(?i)toInterval(Second|Minute|Hour|Milli|Micro|"
                r"Nano)", raw_args[1]):
            raise ValueError(
                "toStartOfInterval: sub-day interval over a Date "
                "value (reference ILLEGAL_TYPE_OF_ARGUMENT)")


def _tostartofinterval_rule(a):
    """toStartOfInterval(ts, INTERVAL n unit | toIntervalUnit(n))
    (reference src/Functions/toStartOfInterval.cpp): floor the
    timestamp to a multiple of the interval since epoch.  Time units
    floor in epoch micros (weeks shifted to Monday boundaries, CH's
    week origin); month-family units floor the month ordinal."""
    fallback = f"toStartOfInterval({', '.join(a)})"
    if len(a) < 2:
        return fallback
    arg = a[1].strip()
    m = re.fullmatch(r"(?is)INTERVAL\s+'?(\d+)'?\s+([A-Za-z]+)", arg)
    if m:
        n, unit = int(m.group(1)), m.group(2).lower().rstrip("s")
    else:
        m = re.fullmatch(r"(?is)toInterval([A-Za-z]+)\s*\(\s*(\d+)\s*\)",
                         arg)
        if not m:
            return fallback
        n, unit = int(m.group(2)), m.group(1).lower()
    ts = f"CAST({a[0]} AS TIMESTAMP)"
    if unit == "nanosecond":
        # timestamps carry µs here (LIMITS.md precision boundary):
        # sub-µs floors are identity; whole-µs multiples floor in µs
        if n % 1000 == 0 and n >= 1000:
            unit, n = "microsecond", n // 1000
        else:
            return ts
    if unit in _TSOI_MICROS:
        step = n * _TSOI_MICROS[unit]
        off = 3 * 86_400_000_000 if unit == "week" else 0
        if off:
            return (f"timestamp_micros(CAST(floor((unix_micros({ts}) "
                    f"+ {off}) / {step}) AS BIGINT) * {step} - {off})")
        return (f"timestamp_micros(CAST(floor(unix_micros({ts}) "
                f"/ {step}) AS BIGINT) * {step})")
    if unit in _TSOI_MONTHS:
        k = n * _TSOI_MONTHS[unit]
        mexpr = f"(year({ts}) * 12 + month({ts}) - 1)"
        fl = f"(CAST(floor({mexpr} / {k}) AS BIGINT) * {k})"
        return (f"CAST(make_date(CAST({fl} / 12 AS INT), "
                f"CAST({fl} % 12 AS INT) + 1, 1) AS TIMESTAMP)")
    return fallback


_RULES["tostartofinterval"] = _tostartofinterval_rule


def _interval_seconds(arg: str) -> int | None:
    """Parse INTERVAL 'n' UNIT / toIntervalUnit(n) to whole seconds
    (time units only; month-family returns None)."""
    m = re.fullmatch(r"(?is)INTERVAL\s+'?(\d+)'?\s+([A-Za-z]+)",
                     arg.strip())
    if not m:
        m = re.fullmatch(r"(?is)toInterval([A-Za-z]+)\s*\(\s*(\d+)\s*\)",
                         arg.strip())
        if not m:
            return None
        n, unit = int(m.group(2)), m.group(1).lower()
    else:
        n, unit = int(m.group(1)), m.group(2).lower().rstrip("s")
    micros = _TSOI_MICROS.get(unit)
    return n * micros // 1_000_000 if micros else None


def _tumble_hop_rule(which):
    """tumbleStart/tumbleEnd(t, INTERVAL w [, tz]) and
    hopStart/hopEnd(t, INTERVAL hop, INTERVAL w [, tz]) (reference
    src/Functions/FunctionsWindow.cpp): tumble floors t to the window
    interval (week-origin Monday, same as toStartOfInterval); hop
    floors to the HOP interval — the start of the latest hop window
    containing t.  The trailing timezone argument selects display
    zone in the reference and is dropped here (session-zone engine)."""
    def rule(a):
        args = [x for x in a
                if not re.fullmatch(r"\s*'[A-Za-z_/+-]+'\s*", x)]
        if which.startswith("tumble"):
            start = _tostartofinterval_rule([args[0], args[1]])
            iv = args[1]
        else:
            start = _tostartofinterval_rule([args[0], args[1]])
            iv = args[2] if len(args) > 2 else args[1]
        if which.endswith("start"):
            return start
        sec = _interval_seconds(iv)
        if sec is not None:
            return f"({start} + make_interval(0, 0, 0, 0, 0, 0, {sec}))"
        return f"({start} + {iv})"
    return rule


for _w in ("tumblestart", "tumbleend", "hopstart", "hopend"):
    _RULES[_w] = _tumble_hop_rule(_w)
# tumble()/hop() scalar forms return the (start, end) tuple
_RULES["tumble"] = lambda a: (
    f"struct({_tumble_hop_rule('tumblestart')(a)} AS start, "
    f"{_tumble_hop_rule('tumbleend')(a)} AS end)")
_RULES["hop"] = lambda a: (
    f"struct({_tumble_hop_rule('hopstart')(a)} AS start, "
    f"{_tumble_hop_rule('hopend')(a)} AS end)")


def _toyearweek_rule(a):
    """toYearWeek(date[, mode]) (src/Functions/toYearWeek.cpp — MySQL
    WEEK mode table).  Modes 1/3 are ISO Monday-start weeks: the year
    is the ISO week-year (year of that week's Thursday).  Other modes
    (Sunday-start families) are not mapped — raise by name rather
    than emit wrong week numbers."""
    mode = a[1].strip() if len(a) > 1 else "0"
    if mode not in ("1", "3"):
        raise NotImplementedError(
            f"toYearWeek: only ISO modes 1/3 are mapped (got {mode})")
    d = f"CAST({a[0]} AS DATE)"
    dow_mon1 = f"(pmod(dayofweek({d}) + 5, 7) + 1)"
    thursday = f"date_add({d}, 4 - {dow_mon1})"
    return f"(year({thursday}) * 100 + weekofyear({d}))"


_RULES["toyearweek"] = _toyearweek_rule

def _jsontype_rule(a):
    """JSONType SQL form (FunctionsJSON.h JSONTypeImpl) — variant-
    probed CH type name; hand-written text because the variant_get
    TYPE argument does not survive the generic bridge's rendering."""
    if len(a) == 1:
        v = f"try_parse_json({a[0]})"
    else:
        v = (f"try_variant_get(try_parse_json({a[0]}), "
             f"{_json_path(a)}, 'variant')")
    s = f"schema_of_variant({v})"
    return (f"(CASE WHEN ({v}) IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {s} = 'VOID' THEN 'Null' "
            f"WHEN {s} = 'STRING' THEN 'String' "
            f"WHEN {s} = 'BOOLEAN' THEN 'Bool' "
            f"WHEN {s} LIKE 'ARRAY%' THEN 'Array' "
            f"WHEN {s} LIKE 'OBJECT%' OR {s} LIKE 'STRUCT%' "
            f"THEN 'Object' "
            f"WHEN {s} LIKE 'DECIMAL%' OR {s} LIKE 'DOUBLE%' "
            f"OR {s} LIKE 'FLOAT%' THEN 'Float64' "
            f"ELSE 'Int64' END)")


_RULES["jsontype"] = _jsontype_rule


def _json_array_raw(a):
    raw = (f"get_json_object({a[0]}, {_json_path(a)})"
           if len(a) > 1 else a[0])
    return (f"transform(from_json({raw}, 'array<variant>'), "
            f"__e -> to_json(__e))")


def _json_extract_keys(a):
    """JSONExtractKeys(json[, path...]) — object keys in document
    order; [] for non-objects (src/Functions/FunctionsJSON.cpp)."""
    raw = (f"get_json_object({a[0]}, {_json_path(a)})"
           if len(a) > 1 else a[0])
    return (f"COALESCE(json_object_keys({raw}), "
            f"CAST(array() AS ARRAY<STRING>))")


_RULES["jsonextractkeys"] = _json_extract_keys
# countDistinct is the reference's alias of uniqExact
# (AggregateFunctionUniq registration)
_RULES["countdistinct"] = lambda a: f"count(DISTINCT {', '.join(a)})"
_RULES["jsonextract"] = _jsonextract_typed
_RULES["jsonextractkeysandvalues"] = _json_kv_typed
_RULES["jsonextractkeysandvaluesraw"] = _json_kv_raw
_RULES["jsonextractarrayraw"] = _json_array_raw
_RULES["jsonkey"] = _json_key

def _totypename_rule(a):
    """CH literal typing differs from Spark's (integer literals are
    the smallest UInt/Int that fits, float literals are Float64 —
    src/DataTypes/FieldToDataType.cpp); computed expressions map
    their Spark type through the CH name table."""
    t = a[0].strip()
    if re.fullmatch(r"-?\d+", t):
        v = int(t)
        if v >= 0:
            for bound, name in ((256, "UInt8"), (65536, "UInt16"),
                                (2 ** 32, "UInt32"), (2 ** 64, "UInt64")):
                if v < bound:
                    return f"'{name}'"
            return "'UInt128'"
        for bound, name in ((2 ** 7, "Int8"), (2 ** 15, "Int16"),
                            (2 ** 31, "Int32"), (2 ** 63, "Int64")):
            if -v <= bound:
                return f"'{name}'"
        return "'Int128'"
    if re.fullmatch(r"-?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?|"
                    r"-?\d+[eE][+-]?\d+", t):
        return "'Float64'"
    return f"__ch_type_name(typeof({a[0]}))"


_RULES["totypename"] = _totypename_rule
# bar(v, lo, hi, width) (src/Functions/bar.cpp) — whole-block variant
def _bar_rule(a):
    """bar() with EIGHTH-block resolution (src/Functions/bar.cpp
    renders U+2588..U+258F partials): value → eighths of a cell,
    full blocks plus one partial glyph."""
    w = a[3] if len(a) > 3 else "80"
    cells = (f"LEAST(GREATEST((({a[0]}) - ({a[1]})) "
             f"/ (({a[2]}) - ({a[1]})) * ({w}), 0), {w})")
    t8 = f"CAST(floor(({cells}) * 8) AS INT)"
    return (f"(repeat('█', CAST(({t8}) / 8 AS INT)) || "
            f"CASE WHEN ({t8}) % 8 > 0 "
            f"THEN substring('▏▎▍▌▋▊▉', ({t8}) % 8, 1) "
            f"ELSE '' END)")


_RULES["bar"] = _bar_rule

# lagInFrame/leadInFrame are CH's lag/lead (WindowTransform.cpp:2269 —
# CH has no bare lag/lead). Spark's lag/lead ignore the frame clause;
# the frame-clamped distinction matters only for frames narrower than
# the offset (operators/windows.py lag_in_frame covers that exactly).
def _finalize_aggregation_rule(a):
    """finalizeAggregation(state): plain-value states pass through;
    the avg (sum, count) struct carrier finalizes to the quotient
    (src/Functions/finalizeAggregation.cpp)."""
    s = a[0].strip()
    if re.match(r"(?i)^named_struct\(\s*'sum'", s):
        return f"(({s}).sum / ({s}).count)"
    return s


_RULES["finalizeaggregation"] = _finalize_aggregation_rule
_RULES["format"] = lambda a: _format_string_sql(a)


def _array_auc_rule(orig_name: str):
    """arrayAUCPR/arrayPRAUC/arrayROCAUC/arrayAUC literal-argument
    validation (src/Functions/array/arrayAUC.cpp): empty arrays,
    NULL/String elements, mismatched sizes, malformed 3-element
    offsets and wrong arity are all rejections; valid calls delegate
    to the registry implementations."""
    is_pr = orig_name.lower() in ("arrayaucpr", "arrayprauc")

    def elems(x: str):
        m = re.fullmatch(r"(?is)\s*array\s*\((.*)\)\s*", x.strip())
        if m is None:
            return None
        inner = m.group(1).strip()
        return _split_top_commas(inner) if inner else []

    def rule(a):
        if len(a) < 2 or len(a) > 3:
            raise ValueError(
                f"{orig_name}: wrong number of arguments (reference "
                f"NUMBER_OF_ARGUMENTS_DOESNT_MATCH)")
        e1, e2 = elems(a[0]), elems(a[1])
        for e in (e1, e2):
            if e is not None:
                if not e:
                    raise ValueError(
                        f"{orig_name}: empty array argument "
                        f"(reference ILLEGAL_TYPE_OF_ARGUMENT)")
                if any(re.fullmatch(r"(?i)null", v.strip())
                       or v.strip().startswith("'") for v in e):
                    raise ValueError(
                        f"{orig_name}: NULL/String elements "
                        f"(reference ILLEGAL_TYPE_OF_ARGUMENT)")
        if e1 is not None and e2 is not None and len(e1) != len(e2):
            raise ValueError(
                f"{orig_name}: array sizes differ "
                f"(reference BAD_ARGUMENTS)")
        if len(a) == 3 and is_pr:
            off = elems(a[2])
            if off is not None and (
                    len(off) != 3
                    or any(re.fullmatch(r"(?i)null", v.strip())
                           or v.strip().startswith(("'", "-"))
                           for v in off)):
                raise ValueError(
                    f"{orig_name}: malformed offsets "
                    f"(reference BAD_ARGUMENTS)")
        out = _bridge_registry_call(orig_name, list(a))
        return out if out is not None \
            else f"{orig_name}({', '.join(a)})"
    return rule


def _iceberg_truncate_rule(a):
    """icebergTruncate(w, v) literal validation (BAD_ARGUMENTS for
    non-positive widths and floating-point values)."""
    if a and re.fullmatch(r"\s*-?\d+\s*", a[0]) and int(a[0]) <= 0:
        raise ValueError("icebergTruncate: width must be positive "
                         "(reference BAD_ARGUMENTS)")
    if len(a) > 1 and re.fullmatch(r"\s*-?(?:\d*\.\d+|\d+\.)\s*",
                                   a[1]):
        raise ValueError("icebergTruncate: floating-point values are "
                         "not truncatable (reference BAD_ARGUMENTS)")
    # DECIMAL values truncate at the value's own scale (Iceberg spec:
    # truncate(W, d) = d − (d mod scaled_W), scaled_W = unscaled W at
    # scale(d) — golden 03376: truncate(10, 12.34dec2) = 12.30, NOT
    # the integer-width 10)
    dm = (re.search(r"(?i)AS\s+DECIMAL\s*\(\s*\d+\s*,\s*(\d+)\s*\)",
                    a[1]) if len(a) > 1 else None)
    if dm and re.fullmatch(r"\s*\d+\s*", a[0]):
        from decimal import Decimal as _D
        scaled_w = str(_D(int(a[0])).scaleb(-int(dm.group(1))))
        return f"(({a[1]}) - pmod(({a[1]}), {scaled_w}))"
    # string values truncate at CODEPOINTS (Iceberg spec; the default
    # bridge kind is long, which would NULL a string input) — covers
    # quoted literals and string-producing heads (toFixedString →
    # rpad, concat, lower/upper, substring)
    if len(a) > 1 and re.fullmatch(r"\s*\d+\s*", a[0]) and (
            re.fullmatch(r"\s*'(?:[^'\\]|\\.)*'\s*", a[1])
            or re.match(r"(?is)\s*(rpad|lpad|concat|lower|upper|"
                        r"substring|substr|trim|repeat|reverse)\s*\(",
                        a[1])):
        return f"substring({a[1]}, 1, {int(a[0])})"
    out = _bridge_registry_call("icebergTruncate", list(a))
    return out if out is not None \
        else f"icebergTruncate({', '.join(a)})"


_RULES["icebergtruncate"] = _iceberg_truncate_rule
_RULES["arrayaucpr"] = _array_auc_rule("arrayAUCPR")
_RULES["arrayprauc"] = _array_auc_rule("arrayPRAUC")
_RULES["arrayrocauc"] = _array_auc_rule("arrayROCAUC")
_RULES["arrayauc"] = _array_auc_rule("arrayAUC")


def _neighbor_default_sql(arg: str) -> str:
    """Out-of-block neighbor() returns the TYPE default in the
    reference ('' for strings, 0 for numbers) — sniff the translated
    argument; unknown shapes keep NULL (a wrong-typed literal would
    coerce silently)."""
    d = _ordefault_default_sql(arg, "max")
    if d != "0":
        return d
    return "0" if _WKAD_NUMERIC_ARG_RE.match(arg.strip()) else "NULL"


def _neighbor_rule(a):
    """neighbor(x, offset[, default]) (src/Functions/neighbor.cpp):
    block-relative lead/lag — one stream here, so a global-order
    window (presentation semantics; the reference deprecates it for
    the same order-dependence).  Non-constant offsets index into the
    collected block (the reference computes them per-row too)."""
    try:
        n = int(a[1])
    except ValueError:
        d = a[2] if len(a) > 2 else _neighbor_default_sql(a[0])
        wf = ("OVER (ORDER BY monotonically_increasing_id() ROWS "
              "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
        wr = "OVER (ORDER BY monotonically_increasing_id())"
        arr = f"collect_list({a[0]}) {wf}"
        idx = f"(row_number() {wr} + ({a[1]}))"
        return (f"(CASE WHEN {idx} BETWEEN 1 AND size({arr}) "
                f"THEN element_at({arr}, CAST({idx} AS INT)) "
                f"ELSE {d} END)")
    if n == 0:
        return f"({a[0]})"
    d = a[2] if len(a) > 2 else "NULL"
    w = "OVER (ORDER BY monotonically_increasing_id())"
    if n > 0:
        return f"lead({a[0]}, {n}, {d}) {w}"
    return f"lag({a[0]}, {-n}, {d}) {w}"


_RULES["neighbor"] = _neighbor_rule


def _f32_bits_sql(x: str) -> str:
    """IEEE-754 float32 bit pattern of a FLOAT-typed expression (the
    value is exactly representable in double, so the mantissa math is
    exact — src/Functions/reinterpretAs.cpp raw-bits semantics)."""
    v = f"CAST(CAST({x} AS FLOAT) AS DOUBLE)"
    a = f"ABS({v})"
    e = f"FLOOR(LOG2({a}))"
    return (f"(CASE WHEN {v} = 0 THEN 0 ELSE "
            f"CAST(IF({v} < 0, 2147483648, 0) "
            f"+ ({e} + 127) * 8388608 "
            f"+ ROUND(({a} / POW(CAST(2.0 AS DOUBLE), {e}) - 1) "
            f"* 8388608) AS BIGINT) END)")


def _reinterp_int_rule(name, signed):
    def rule(a):
        if re.match(r"(?is)\s*(CAST\s*\(.*AS\s+FLOAT\s*\)|"
                    r"float\s*\()", a[0]):
            bits = _f32_bits_sql(a[0])
            if signed:
                return (f"(CAST({bits} AS INT))")
            return bits
        br = _bridge_registry_call(name, a)
        return br if br else f"{name}({', '.join(a)})"
    return rule


_RULES["reinterpretasuint32"] = _reinterp_int_rule(
    "reinterpretAsUInt32", False)
_RULES["reinterpretasint32"] = _reinterp_int_rule(
    "reinterpretAsInt32", True)


def _f64_bits_sql(x: str, signed: bool = False) -> str:
    """IEEE-754 float64 bit pattern — exact-mantissa construction as
    the float32 form (src/Functions/reinterpretAs.cpp memcpy
    semantics).  signed=True returns the Int64 view (negative doubles
    → negative bit pattern via the sign bit at 2^63); signed=False
    returns the UInt64 view as DECIMAL(20,0) (the repo's UInt64
    carrier), so negative doubles map to 2^63 + magnitude bits."""
    v = f"CAST({x} AS DOUBLE)"
    a = f"ABS({v})"
    e = f"FLOOR(LOG2({a}))"
    mag = (f"(CAST({e} + 1023 AS BIGINT) * 4503599627370496 "
           f"+ CAST(ROUND((({a}) / POW(CAST(2.0 AS DOUBLE), {e}) "
           f"- 1) * 4503599627370496) AS BIGINT))")
    if signed:
        return (f"(CASE WHEN {v} = 0 THEN 0 "
                f"WHEN {v} < 0 THEN -9223372036854775808 + {mag} "
                f"ELSE {mag} END)")
    return (f"(CASE WHEN {v} = 0 THEN CAST(0 AS DECIMAL(20,0)) "
            f"WHEN {v} < 0 THEN CAST(9223372036854775808 AS "
            f"DECIMAL(20,0)) + CAST({mag} AS DECIMAL(20,0)) "
            f"ELSE CAST({mag} AS DECIMAL(20,0)) END)")


def _reinterp_int64_rule(name, signed):
    def rule(a):
        # the OUTERMOST cast type decides the source width: the
        # reference memcpy's min(sizeof) bytes, so a Float32 argument
        # yields the zero-extended 32-bit pattern (1065353216 for
        # 1.0f), not the float64 pattern.
        m = re.search(r"(?is)AS\s+(DOUBLE|FLOAT)\s*\)\s*$", a[0])
        if m and m.group(1).upper() == "FLOAT":
            bits = _f32_bits_sql(a[0])
            return bits if signed else f"CAST({bits} AS DECIMAL(20,0))"
        if m:
            return _f64_bits_sql(a[0], signed)
        br = _bridge_registry_call(name, a)
        return br if br else f"{name}({', '.join(a)})"
    return rule


_RULES["reinterpretasuint64"] = _reinterp_int64_rule(
    "reinterpretAsUInt64", False)
_RULES["reinterpretasint64"] = _reinterp_int64_rule(
    "reinterpretAsInt64", True)


def _reinterp_float_rule(name, f32: bool):
    """reinterpretAsFloat32/64 over an INTEGER-typed argument: invert
    the bit layout (denormals via the 2^-149 / 2^-1074 scale)."""
    def rule(a):
        if not re.match(r"(?is)\s*(CAST\s*\(.*AS\s+(TINYINT|SMALLINT|"
                        r"INT|BIGINT|DECIMAL[\d(), ]*)\s*\)|\d+)\s*$",
                        a[0]):
            br = _bridge_registry_call(name, a)
            return br if br else f"{name}({', '.join(a)})"
        b = f"CAST({a[0]} AS BIGINT)"
        if f32:
            e = f"CAST(({b} div 8388608) % 256 AS INT)"
            m = f"CAST(({b}) % 8388608 AS DOUBLE)"
            sgn = f"IF(({b} div 2147483648) % 2 = 1, -1.0, 1.0)"
            return (f"CAST({sgn} * (CASE WHEN {e} = 0 "
                    f"THEN {m} * POW(2.0, -149) "
                    f"ELSE (1.0 + {m} / 8388608) "
                    f"* POW(2.0, {e} - 127) END) AS FLOAT)")
        e = f"CAST(({b} div 4503599627370496) % 2048 AS INT)"
        m = f"CAST(({b}) % 4503599627370496 AS DOUBLE)"
        return (f"(CASE WHEN {e} = 0 "
                f"THEN {m} * POW(2.0, -1074) "
                f"ELSE (1.0 + {m} / 4503599627370496) "
                f"* POW(2.0, {e} - 1023) END)")
    return rule


_RULES["reinterpretasfloat32"] = _reinterp_float_rule(
    "reinterpretAsFloat32", True)
_RULES["reinterpretasfloat64"] = _reinterp_float_rule(
    "reinterpretAsFloat64", False)


def _translate_fn_rule(a, utf8: bool = False):
    """translate(s, from, to) (src/Functions/translate.cpp): a 'to'
    map SHORTER than 'from' deletes the unmapped characters (Spark's
    translate already does exactly that); a LONGER 'to' is
    BAD_ARGUMENTS, and the non-UTF8 form rejects non-ASCII maps."""
    if len(a) == 3:
        fm = re.fullmatch(r"\s*'([^']*)'\s*", a[1])
        tm = re.fullmatch(r"\s*'([^']*)'\s*", a[2])
        if fm and tm:
            f_, t_ = fm.group(1), tm.group(1)
            if len(t_) > len(f_):
                raise ValueError(
                    "translate: 'to' longer than 'from' "
                    "(reference BAD_ARGUMENTS)")
            if not utf8 and not (f_.isascii() and t_.isascii()):
                raise ValueError(
                    "translate: non-ASCII maps need translateUTF8")
    return f"translate({', '.join(a)})"


_RULES["translate"] = _translate_fn_rule
_RULES["translateutf8"] = lambda a: _translate_fn_rule(a, utf8=True)


def _todecimal256_rule(a, try_=False, zero=False):
    sc = min(int(a[1]), 37) if re.fullmatch(r"\s*\d+\s*", a[1]) else 0
    core = (f"TRY_CAST({a[0]} AS DECIMAL(38,{sc}))" if try_ or zero
            else f"CAST({a[0]} AS DECIMAL(38,{sc}))")
    return f"COALESCE({core}, 0)" if zero else core


# Decimal256 carries at DECIMAL(38, s) — the documented precision
# boundary (LIMITS.md); values beyond 38 digits overflow
_RULES["todecimal256"] = lambda a: _todecimal256_rule(a)
_RULES["todecimal256ornull"] = lambda a: _todecimal256_rule(a, try_=True)
_RULES["todecimal256orzero"] = lambda a: _todecimal256_rule(a, zero=True)
_RULES["laginframe"] = lambda a: f"lag({', '.join(a)})"
_RULES["leadinframe"] = lambda a: f"lead({', '.join(a)})"

_RULES["anyargmin"] = _fn("min_by")
_RULES["anyargmax"] = _fn("max_by")
for _base in ("sum", "avg", "min", "max", "count"):
    _RULES[f"{_base}argmin"] = (
        lambda a, b=_base: _arg_mm_sql(b, a, "array_min"))
    _RULES[f"{_base}argmax"] = (
        lambda a, b=_base: _arg_mm_sql(b, a, "array_max"))

# Parametric aggregates f(params)(args) -> spark form
_PARAMETRIC: dict = {
    "quantile": lambda p, a: f"percentile({a[0]}, {p[0]})",
    # quantileExact is the ELEMENT at index level*size (truncated),
    # NOT an interpolation (QuantileExact.h:96 nth_element); empty
    # input yields NULL (no element to pick)
    "quantileexact": lambda p, a: (
        f"try_element_at(array_sort(collect_list({a[0]})), "
        f"greatest(CAST(least(floor(({p[0]}) * "
        f"size(collect_list({a[0]}))), "
        f"size(collect_list({a[0]})) - 1) AS INT) + 1, 1))"),
    "quantiletdigest": lambda p, a: f"approx_percentile({a[0]}, {p[0]})",
    "quantiledd": lambda p, a: f"approx_percentile({a[0]}, {p[0]})",
    "quantiles": lambda p, a: f"percentile({a[0]}, array({', '.join(p)}))",
    # topK(k)(x): exact small-k variant of the reference's space-saving
    # sketch — per-group quadratic over DISTINCT values (fine for the
    # low-cardinality columns topK targets); most-frequent first, value
    # as tie-break via struct sort.
    "topk": lambda p, a: (
        f"slice(transform(array_sort(transform(array_distinct(collect_list({a[0]})), "
        f"v -> struct(-size(filter(collect_list({a[0]}), y -> y = v)) AS neg, v AS val))), "
        f"s -> s.val), 1, {p[0]})"),
    "topkweighted": lambda p, a: (
        f"slice(transform(array_sort(transform(array_distinct(collect_list({a[0]})), "
        f"v -> struct(-aggregate(filter(collect_list(struct({a[0]} AS _x, {a[1]} AS _w)), "
        f"q -> q._x = v), cast(0.0 AS double), (acc, q) -> acc + q._w) AS neg, v AS val))), "
        f"s -> s.val), 1, {p[0]})"),
    # sparkbar(width[, min, max])(x, y)
    # (AggregateFunctionSparkbar.h): bucket x into `width` bins over
    # [min, max] (observed bounds when omitted), sum y per bin, render
    # each as one of 8 block glyphs scaled to the max bin; empty bin =
    # space.  One collect_list pass; higher-order folds do the rest.
    "sparkbar": lambda p, a: _sparkbar_sql(p, a),
    "uniqupto": lambda p, a: (
        f"least(count(DISTINCT {a[0] if len(a) == 1 else 'struct(' + ', '.join(a) + ')'}), "
        f"{p[0]} + 1)"),
    # -Array combinator over uniqUpTo: distinct ELEMENTS (zipped for
    # the multi-arg form) across all rows' arrays
    "uniquptoarray": lambda p, a: (
        "least(CAST(size(array_distinct(flatten(collect_list("
        + (a[0] if len(a) == 1 else f"arrays_zip({', '.join(a)})")
        + f")))) AS BIGINT), {p[0]} + 1)"),
    # histogram(N)(x) (AggregateFunctionHistogram.h): the reference's
    # adaptive-binning sketch is order-dependent by contract; this is
    # the deterministic equal-width refinement over [min, max] —
    # (lo, hi, height) triples like the reference's output shape
    "histogram": lambda p, a: (
        f"transform(sequence(0, {p[0]} - 1), __b -> struct("
        f"array_min(collect_list(CAST({a[0]} AS DOUBLE))) + __b * "
        f"((array_max(collect_list(CAST({a[0]} AS DOUBLE))) - "
        f"array_min(collect_list(CAST({a[0]} AS DOUBLE)))) / {p[0]}) "
        f"AS col1, "
        f"array_min(collect_list(CAST({a[0]} AS DOUBLE))) + (__b + 1) * "
        f"((array_max(collect_list(CAST({a[0]} AS DOUBLE))) - "
        f"array_min(collect_list(CAST({a[0]} AS DOUBLE)))) / {p[0]}) "
        f"AS col2, "
        f"CAST(size(filter(collect_list(CAST({a[0]} AS DOUBLE)), "
        f"__v -> __v >= array_min(collect_list(CAST({a[0]} AS DOUBLE))) "
        f"+ __b * ((array_max(collect_list(CAST({a[0]} AS DOUBLE))) - "
        f"array_min(collect_list(CAST({a[0]} AS DOUBLE)))) / {p[0]}) "
        f"AND (__b = {p[0]} - 1 OR __v < "
        f"array_min(collect_list(CAST({a[0]} AS DOUBLE))) + (__b + 1) * "
        f"((array_max(collect_list(CAST({a[0]} AS DOUBLE))) - "
        f"array_min(collect_list(CAST({a[0]} AS DOUBLE)))) / {p[0]})))) "
        f"AS DOUBLE) AS col3))"),
    # groupArrayMovingSum/Avg(N)(x) (AggregateFunctionMovingImpl):
    # per-position sum over the trailing N collected values; the Avg
    # variant divides by the WINDOW PARAMETER N (reference contract,
    # not by the actual slice width)
    "grouparraymovingsum": lambda p, a: (
        f"transform(sequence(1, size(collect_list({a[0]}))), __i -> "
        f"aggregate(slice(collect_list({a[0]}), "
        f"greatest(1, __i - {p[0]} + 1), least(__i, {p[0]})), "
        f"CAST(0.0 AS DOUBLE), (__s, __x) -> __s + __x))"),
    "grouparraymovingavg": lambda p, a: (
        f"transform(sequence(1, size(collect_list({a[0]}))), __i -> "
        f"aggregate(slice(collect_list({a[0]}), "
        f"greatest(1, __i - {p[0]} + 1), least(__i, {p[0]})), "
        f"CAST(0.0 AS DOUBLE), (__s, __x) -> __s + __x) / {p[0]})"),
    # groupArrayInsertAt(default)(x, pos) (AggregateFunctionGroupArray
    # InsertAt.h): x lands at position pos, gaps take the default
    "grouparrayinsertat": lambda p, a: (
        f"transform(sequence(0, max({a[1]})), __i -> coalesce("
        f"try_element_at(map_from_entries(collect_list(struct("
        f"CAST({a[1]} AS INT), {a[0]}))), CAST(__i AS INT)), "
        f"{p[0] if p else 'NULL'}))"),
    # quantileGK(accuracy)(level)(x) collapses to Spark's Greenwald-Khanna
    # approx_percentile(x, level, accuracy) — the same sketch family
    # (reference src/AggregateFunctions/AggregateFunctionGroupArraySorted…
    # quantileGK.cpp).
    "quantilegk": lambda p, a: (
        f"approx_percentile({a[0]}, {p[1] if len(p) > 1 else 0.5}, {p[0]})"),
    # medianGK(accuracy)(x) = quantileGK(accuracy)(0.5)(x)
    "mediangk": lambda p, a: f"approx_percentile({a[0]}, 0.5, {p[0]})",
    "grouparraysorted": lambda p, a: (
        f"slice(array_sort(collect_list({a[0]})), 1, {p[0]})"),
    # groupConcat(sep)(x) / groupConcat(sep, N)(x): the two-parameter form
    # keeps only the first N values (AggregateFunctionGroupConcat.cpp:221-235)
    "groupconcat": lambda p, a: (
        f"array_join(slice(collect_list(CAST({a[0]} AS STRING)), 1, {p[1]}), {p[0]})"
        if len(p) > 1 else
        f"array_join(collect_list(CAST({a[0]} AS STRING)), {p[0]})"),
    "grouparraylast": lambda p, a: (
        f"slice(collect_list({a[0]}), "
        f"greatest(size(collect_list({a[0]})) - {p[0]} + 1, 1), {p[0]})"),
    # quantile sketch variants (AggregateFunctionQuantile.cpp
    # registrations): timing/bfloat16/deterministic collapse to exact
    # percentile on Spark (same-or-tighter error contract); weighted
    # forms use percentile's integral frequency argument
    "quantiletiming": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantilebfloat16": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantiledeterministic": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantileexactweighted": lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"),
    "quantiletimingweighted": lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"),
    "quantileinterpolatedweighted": lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"),
    "quantiletdigestweighted": lambda p, a: (
        f"percentile({a[0]}, {p[0]}, CAST({a[1]} AS BIGINT))"),
    "quantilesexact": lambda p, a: (
        "array(" + ", ".join(
            _PARAMETRIC["quantileexact"]([pp], a) for pp in p) + ")"),
    # ExactInclusive IS the R-7 interpolation percentile computes;
    # the exclusive plural maps each level through the single-level
    # exclusive rewrite
    "quantilesexactinclusive": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}))"),
    "quantilesexactexclusive": lambda p, a: (
        "array(" + ", ".join(
            _PARAMETRIC["quantileexactexclusive"]([pp], a) for pp in p)
        + ")"),
    "quantilesinterpolatedweighted": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"),
    "quantilestiming": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}))"),
    "quantilestdigest": lambda p, a: (
        f"approx_percentile({a[0]}, array({', '.join(p)}))"),
    "quantilesexactweighted": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"),
    "quantilestimingweighted": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"),
    "quantilesbfloat16": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}))"),
    "quantilesdeterministic": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}))"),
    "quantilestdigestweighted": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), "
        f"CAST({a[1]} AS BIGINT))"),
    # groupArray(N)(x): first N values (insertion order is arbitrary in
    # the reference too — any-N contract, AggregateFunctionGroupArray.h)
    "grouparray": lambda p, a: f"slice(collect_list({a[0]}), 1, {p[0]})",
    "groupuniqarray": lambda p, a: (
        f"slice(array_sort(array_distinct(collect_list({a[0]}))), 1, {p[0]})"),
}

def _excel_exclusive_sql(p, a):
    """quantileExactExclusive(level)(x) — Excel PERCENTILE.EXC / R-6
    (QuantileExact.h:129) as one SQL aggregate expression."""
    arr = f"array_sort(collect_list({a[0]}))"
    sz = f"size({arr})"
    h = f"({p[0]} * ({sz} + 1))"
    n = f"CAST(floor({h}) AS INT)"
    return (f"(CASE WHEN {n} >= {sz} THEN element_at({arr}, {sz}) "
            f"WHEN {n} < 1 THEN element_at({arr}, 1) "
            f"ELSE element_at({arr}, {n}) + ({h} - {n}) * "
            f"(element_at({arr}, {n} + 1) - element_at({arr}, {n})) END)")


_PARAMETRIC["quantileexactexclusive"] = _excel_exclusive_sql
# PERCENTILE.INC / R-7 is exactly Spark's percentile()
_PARAMETRIC["quantileexactinclusive"] = \
    lambda p, a: f"percentile({a[0]}, {p[0]})"
# index capped at size (QuantileExact.h: `level < 1 ? level * size :
# size - 1`) so level >= 1 returns the max instead of indexing past the
# array (NULL, or an error under ANSI) — mirrors the DataFrame
# operator's F.least(..., s - 1).
_PARAMETRIC["quantileexactlow"] = lambda p, a: (
    f"element_at(array_sort(collect_list({a[0]})), "
    f"CAST(least(floor({p[0]} * size(array_sort(collect_list({a[0]})))) + 1, "
    f"size(array_sort(collect_list({a[0]})))) AS INT))"
    if p[0].strip() != "0.5" else
    f"element_at(array_sort(collect_list({a[0]})), "
    f"CAST(CASE WHEN size(collect_list({a[0]})) % 2 = 1 "
    f"THEN floor(size(collect_list({a[0]})) / 2) "
    f"ELSE floor(size(collect_list({a[0]})) / 2) - 1 END AS INT) + 1)")
_PARAMETRIC["quantileexacthigh"] = lambda p, a: (
    f"element_at(array_sort(collect_list({a[0]})), "
    f"CAST(least(floor({p[0]} * size(array_sort(collect_list({a[0]})))) + 1, "
    f"size(array_sort(collect_list({a[0]})))) AS INT))"
    if p[0].strip() != "0.5" else
    f"element_at(array_sort(collect_list({a[0]})), "
    f"CAST(floor(size(collect_list({a[0]})) / 2) AS INT) + 1)")

# uniqCombined(K)(x): K is the HLL cache-size/precision knob
# (AggregateFunctionUniqCombined.cpp) — the estimate contract is the
# same approx-count; the parameter drops
_PARAMETRIC["uniqcombined"] = lambda p, a: (
    f"approx_count_distinct({a[0]}, 0.01)" if len(a) == 1
    else f"approx_count_distinct(struct({', '.join(a)}), 0.01)")
_PARAMETRIC["uniqcombined64"] = _PARAMETRIC["uniqcombined"]

# plural spellings map each level through the single-level rewrite
# (AggregateFunctionQuantile.cpp registers Low/High plural variants)
_PARAMETRIC["quantilesexactlow"] = lambda p, a: (
    "array(" + ", ".join(
        _PARAMETRIC["quantileexactlow"]([pp], a) for pp in p) + ")")
_PARAMETRIC["quantilesexacthigh"] = lambda p, a: (
    "array(" + ", ".join(
        _PARAMETRIC["quantileexacthigh"]([pp], a) for pp in p) + ")")

# reference registers approx_top_k/approx_top_sum as aliases of
# topK/topKWeighted (src/AggregateFunctions/AggregateFunctionTopK.cpp)
_PARAMETRIC["approx_top_k"] = _PARAMETRIC["topk"]
_PARAMETRIC["approx_top_count"] = _PARAMETRIC["topk"]
_PARAMETRIC["approx_top_sum"] = _PARAMETRIC["topkweighted"]

# bare (parameter-less) quantile spellings default to level 0.5
# (AggregateFunctionQuantile.cpp: params are optional) — without
# these, `SELECT quantile(x), quantile(0.8)(x)` in ONE select leaves
# the bare call unresolved (golden 02477_fuse_quantiles)
for _qn, _qf in list(_PARAMETRIC.items()):
    if _qn.startswith("quantile") and not _qn.startswith("quantiles") \
            and _qn not in _RULES:
        _RULES[_qn] = (lambda a, _f=_qf: _f(["0.5"], a))


def _sparkbar_sql(p: list[str], a: list[str]) -> str:
    width = p[0].strip()
    pairs = (f"collect_list(struct(CAST({a[0]} AS DOUBLE) AS x, "
             f"CAST({a[1]} AS DOUBLE) AS y))")
    if len(p) >= 3:
        lo, hi = f"CAST({p[1]} AS DOUBLE)", f"CAST({p[2]} AS DOUBLE)"
    else:
        lo = f"array_min(transform({pairs}, __q -> __q.x))"
        hi = f"array_max(transform({pairs}, __q -> __q.x))"
    bucket = (f"CAST(least(floor((__q.x - ({lo})) * {width} / "
              f"(({hi}) - ({lo}) + 1)), {width} - 1) AS INT)")
    bins = (f"transform(sequence(0, {width} - 1), __i -> "
            f"aggregate(filter({pairs}, __q -> {bucket} = __i), "
            f"CAST(0 AS DOUBLE), "
            f"(__acc, __q) -> __acc + greatest(__q.y, 0)))")
    glyphs = ("array(' ', '\\u2581', '\\u2582', '\\u2583', '\\u2584', "
              "'\\u2585', '\\u2586', '\\u2587', '\\u2588')")
    return (f"concat_ws('', transform({bins}, __b -> element_at("
            f"{glyphs}, CASE WHEN __b <= 0 THEN 1 ELSE "
            f"greatest(2, CAST(ceil(__b * 8 / "
            f"greatest(array_max({bins}), 1e-300)) AS INT) + 1) "
            f"END)))")


_STRINGY_CALL_RE = re.compile(
    r"(?i)^(concat|concat_ws|lower|upper|substring|substr|trim|ltrim|"
    r"rtrim|replace|regexp_replace|reverse|repeat|lpad|rpad|hex|"
    r"unhex|base64|format_string|date_format|left|right|initcap|"
    r"translate|char|chr|cast\s*\(.*as\s+string\s*\))\s*\(?")
_DATY_CALL_RE = re.compile(
    r"(?i)^(to_date|current_date|date_add|date_sub|last_day|"
    r"next_day|trunc)\s*\(")
_TSY_CALL_RE = re.compile(
    r"(?i)^(?:(?:to_timestamp|current_timestamp|date_trunc|"
    r"from_unixtime)\s*\(|timestamp\s*')")


def _ordefault_default_sql(arg: str, base: str) -> str:
    """The -OrDefault empty-set default is the RETURN TYPE's default
    (AggregateFunctionOrFill.h): 0 for numerics, '' for String, the
    epoch for Date/DateTime.  The argument here is already-translated
    Spark SQL text, so sniff the type class from its shape; numeric 0
    is the fallback."""
    if base in ("avg", "stddevsamp", "stddevpop", "varsamp", "varpop"):
        return "CAST(0.0 AS DOUBLE)"
    if base == "count":
        return "CAST(0 AS BIGINT)"
    s = arg.strip()
    if s.startswith("'") or _STRINGY_CALL_RE.match(s):
        return "''"
    if _DATY_CALL_RE.match(s) or re.match(r"(?i)^date'", s):
        return "DATE'1970-01-01'"
    if _TSY_CALL_RE.match(s):
        return "to_timestamp('1970-01-01 00:00:00')"
    return "0"


def _tz_wall_sql(x: str, tz: str) -> str:
    """NTZ carrying the COLUMN-ZONE wall clock of datetime expression
    ``x`` given timezone argument ``tz`` (a quoted literal).  A string
    literal is ALREADY the wall clock in that zone (reference
    DataTypeDateTime: strings parse in the column's zone); any other
    input is an instant whose wall is rendered in the zone.  The result
    is wrapped in a no-op ``convert_timezone(tz, tz, ...)`` marker so
    epoch extractors (:func:`_epoch_ts_sql`) can recover the zone — one
    carrier then satisfies BOTH the reference's column-zone display and
    its tz-independent epochs (reference
    src/Functions/toUnixTimestamp64.cpp)."""
    if re.fullmatch(r"\s*'[^']*'\s*", x):
        inner = f"CAST(to_timestamp({x}) AS TIMESTAMP_NTZ)"
    else:
        inner = (f"convert_timezone('UTC', {tz}, "
                 f"CAST(to_timestamp({x}) AS TIMESTAMP_NTZ))")
    return f"convert_timezone({tz}, {tz}, {inner})"


_TZ_MARKER_RE = re.compile(
    r"^[\s(]*convert_timezone\('([^']+)',\s*'\1',")


def _epoch_ts_sql(x: str) -> str:
    """LTZ TIMESTAMP holding the TRUE EPOCH of a translated datetime
    expression.  tz'd DateTime values carry the column-zone wall clock
    in an NTZ behind a no-op convert_timezone marker
    (:func:`_tz_wall_sql`); the epoch re-anchors that wall in the
    column zone (reference toUnixTimestamp64.cpp — epochs are
    tz-independent, only display shifts)."""
    m = _TZ_MARKER_RE.match(x)
    if m:
        return (f"to_utc_timestamp(CAST({x} AS TIMESTAMP), "
                f"'{m.group(1)}')")
    return f"CAST({x} AS TIMESTAMP)"


def _todatetime64_sql(a: list[str]) -> str:
    """toDateTime64(x, scale[, tz]) — the fraction TRUNCATES to the
    declared scale (DataTypeDateTime64 scale contract); the optional
    trailing timezone sets the COLUMN zone: string literals parse as
    that zone's wall clock, instants display in it (see
    :func:`_tz_wall_sql`).  Spark's µs carrier caps effective scale
    at 6."""
    tz = None
    if len(a) >= 3 and re.fullmatch(
            r"\s*'[A-Za-z_/+-]*[A-Za-z][A-Za-z_/+-]*'\s*", a[-1]):
        tz = a[-1].strip()
    num = _num_literal_of(a[0])
    if num is not None and len(a) >= 2 \
            and re.fullmatch(r"\s*\d+\s*", a[1]):
        # numeric epoch literal (incl. decimal casts): LUT-saturating
        # render for fractional values and anything outside the
        # DateTime64 LUT range; in-range ints keep the epoch path
        secs = int(float(num))
        if "." in num or not (-2208988800 <= secs <= 10413791999):
            return _dt64_saturating_literal(num, int(a[1]), tz)
    base = _tz_wall_sql(a[0], tz) if tz else f"to_timestamp({a[0]})"
    if len(a) >= 2 and re.fullmatch(r"\s*\d+\s*", a[1]):
        s = min(int(a[1]), 6)
        if s < 6:
            k = 10 ** (6 - s)
            trunc = (f"timestamp_micros((unix_micros(CAST({base} "
                     f"AS TIMESTAMP)) div {k}) * {k})")
            if tz:
                return (f"convert_timezone({tz}, {tz}, "
                        f"CAST({trunc} AS TIMESTAMP_NTZ))")
            return trunc
    return base


_CODEC_ARITY = {
    # name -> (min args, max args, allowed literal values or None)
    "none": (0, 0, None), "lz4": (0, 0, None), "lz4hc": (0, 1, None),
    "zstd": (0, 1, None), "zstd_qat": (0, 1, None),
    "delta": (0, 1, {"1", "2", "4", "8"}),
    "doubledelta": (0, 0, None), "gorilla": (0, 0, None),
    "fpc": (0, 2, None), "t64": (0, 1, None), "gcd": (0, 0, None),
    "default": (0, 0, None), "deflate_qpl": (0, 0, None),
    "aes_128_gcm_siv": (0, 0, None), "aes_256_gcm_siv": (0, 0, None),
}


_CODEC_CANON_NAMES = {
    "none": "NONE", "lz4": "LZ4", "lz4hc": "LZ4HC", "zstd": "ZSTD",
    "zstd_qat": "ZSTD_QAT", "delta": "Delta",
    "doubledelta": "DoubleDelta", "gorilla": "Gorilla", "fpc": "FPC",
    "t64": "T64", "gcd": "GCD", "default": "Default",
    "deflate_qpl": "DEFLATE_QPL", "aes_128_gcm_siv": "AES_128_GCM_SIV",
    "aes_256_gcm_siv": "AES_256_GCM_SIV",
}


def _type_byte_width(t: str) -> int:
    """Fixed byte width of a CH scalar type (ICompressionCodec
    getDeltaBytesSize default — non-fixed types fall back to 1)."""
    m = re.match(r"(?i)\s*(?:Nullable\s*\(\s*|LowCardinality\s*\(\s*)*"
                 r"(?:U?Int|Float|Decimal)(8|16|32|64)", t)
    if m:
        return int(m.group(1)) // 8
    if re.match(r"(?i)\s*\W*DateTime64", t):
        return 8
    if re.match(r"(?i)\s*\W*DateTime", t):
        return 4
    if re.match(r"(?i)\s*\W*Date32", t):
        return 4
    if re.match(r"(?i)\s*\W*Date\b", t):
        return 2
    return 1


def _canon_codec_text(inner: str, col_type: str) -> str:
    """Canonical render of a CODEC(...) item list the way SHOW
    CREATE / DESCRIBE print it (CompressionCodecFactory
    getCodecDesc): canonical name casing, bare Delta gains the
    column type's byte width (golden 01455 `Delta, Default` ->
    `Delta(8), Default` on UInt64)."""
    out = []
    for it in _split_top_commas(inner):
        it = it.strip()
        nm = re.match(r"[A-Za-z_][\w]*", it)
        if nm is None:
            out.append(it)
            continue
        canon = _CODEC_CANON_NAMES.get(nm.group(0).lower(),
                                       nm.group(0))
        args = it[nm.end():].strip()
        if not args and canon == "Delta":
            args = f"({_type_byte_width(col_type)})"
        out.append(canon + args)
    return ", ".join(out)


def _validate_vector_similarity_index(text: str) -> None:
    """INDEX ... TYPE vector_similarity(...) argument contract
    (reference src/Storages/MergeTree/MergeTreeIndexVectorSimilarity
    .cpp; golden 02354_vector_search_index_creation_negative):
    exactly 3 or 6 arguments; method = 'hnsw'; distance in
    L2Distance/cosineDistance; dimensions UInt64 > 0; optional
    quantization in f64/f32/f16/bf16/i8 plus two UInt64 > 0."""
    for m in re.finditer(r"(?is)\bvector_similarity\b\s*(\()?", text):
        if m.group(1) is None:
            raise ValueError(
                "vector_similarity index needs 3 or 6 arguments "
                "(reference INCORRECT_QUERY)")
        open_i = text.index("(", m.start())
        end_i = _matching_paren(text, open_i)
        if end_i < 0:
            continue
        args = [a.strip() for a in
                _split_top_commas(text[open_i + 1:end_i]) if a.strip()]
        if len(args) not in (3, 6):
            raise ValueError(
                f"vector_similarity index takes 3 or 6 arguments, "
                f"got {len(args)} (reference INCORRECT_QUERY)")
        if args[0].strip("'\"").lower() != "hnsw" \
                or not args[0].startswith("'"):
            raise ValueError(
                "vector_similarity: method must be the String 'hnsw' "
                "(reference INCORRECT_QUERY/INCORRECT_DATA)")
        if args[1].strip("'\"") not in ("L2Distance",
                                        "cosineDistance") \
                or not args[1].startswith("'"):
            raise ValueError(
                "vector_similarity: distance must be 'L2Distance' or "
                "'cosineDistance' (reference INCORRECT_DATA)")
        if not re.fullmatch(r"\d+", args[2]) or int(args[2]) == 0:
            raise ValueError(
                "vector_similarity: dimensions must be a UInt64 > 0 "
                "(reference INCORRECT_QUERY/INCORRECT_DATA)")
        if len(args) == 6:
            if args[3].strip("'\"").lower() not in (
                    "f64", "f32", "f16", "bf16", "i8") \
                    or not args[3].startswith("'"):
                raise ValueError(
                    "vector_similarity: quantization must be one of "
                    "f64/f32/f16/bf16/i8 (reference INCORRECT_DATA)")
            if not re.fullmatch(r"\d+", args[4]) or int(args[4]) <= 1:
                raise ValueError(
                    "vector_similarity: M must be a UInt64 > 1 "
                    "(reference INCORRECT_DATA)")
            if not re.fullmatch(r"\d+", args[5]) or int(args[5]) == 0:
                raise ValueError(
                    "vector_similarity: ef_construction must be a "
                    "UInt64 > 0 (reference INCORRECT_DATA)")
        # single-column contract + Array(Float32|Float64|BFloat16)
        # column type (MergeTreeIndexVectorSimilarity.cpp
        # ILLEGAL_COLUMN / INCORRECT_NUMBER_OF_COLUMNS)
        im = re.search(r"(?is)\bINDEX\s+\w+\s+(.*?)\s+TYPE\s+"
                       r"vector_similarity\b",
                       text[:m.start() + 20])
        if im is not None:
            expr = im.group(1).strip()
            if expr.startswith("(") and expr.endswith(")") \
                    and len(_split_top_commas(expr[1:-1])) > 1:
                raise ValueError(
                    "vector_similarity index must be created on a "
                    "single column (reference "
                    "INCORRECT_NUMBER_OF_COLUMNS)")
            col = expr.strip("()` ")
            if re.fullmatch(r"\w+", col):
                dm = re.search(
                    rf"(?is)[(,]\s*`?{re.escape(col)}`?\s+"
                    rf"([A-Za-z]\w*(?:\s*\((?:[^()]|\([^()]*\))*\))?)",
                    text)
                if dm is not None and not re.fullmatch(
                        r"(?i)Array\s*\(\s*"
                        r"(Float32|Float64|BFloat16)\s*\)",
                        dm.group(1).strip()):
                    raise ValueError(
                        "vector_similarity index requires an "
                        "Array(Float32|Float64|BFloat16) column "
                        "(reference ILLEGAL_COLUMN)")


def _validate_codecs(text: str) -> None:
    """CODEC(...) clauses in column declarations: unknown codec names,
    wrong parameter counts and out-of-range Delta widths are
    rejections (reference src/Compression/CompressionFactory.cpp
    validateCodec).  The ORDER sanity check (transforms after a
    generic compression codec) is opt-out via SET
    allow_suspicious_codecs = 1 (reference
    src/Compression/CompressionFactoryAdditions.cpp sanity_check;
    golden 00910_zookeeper_custom_compression_codecs sets it)."""
    suspicious_ok = str(SESSION_SETTINGS.get(
        "allow_suspicious_codecs", "0")).strip().lower() in ("1", "true")
    for m in re.finditer(r"(?is)\bCODEC\s*\(", text):
        open_i = text.index("(", m.start())
        end_i = _matching_paren(text, open_i)
        if end_i < 0:
            continue
        seen_compression = False
        for item in _split_top_commas(text[open_i + 1:end_i]):
            cm = re.fullmatch(r"(?is)\s*(\w+)\s*(?:\((.*)\))?\s*",
                              item)
            if cm is None:
                continue
            cname = cm.group(1).lower()
            if cname in ("lz4", "lz4hc", "zstd", "zstd_qat",
                         "deflate_qpl"):
                seen_compression = True
            elif cname in ("delta", "doubledelta", "gorilla", "fpc",
                           "t64", "gcd") and seen_compression \
                    and not suspicious_ok:
                # transform codecs must precede generic compression
                # (CompressionFactoryAdditions sanity check; skipped
                # under allow_suspicious_codecs)
                raise ValueError(
                    f"CODEC: transform codec {cm.group(1)} after a "
                    f"compression codec (reference BAD_ARGUMENTS)")
            spec = _CODEC_ARITY.get(cname)
            if spec is None:
                raise ValueError(
                    f"CODEC: unknown codec {cm.group(1)!r} "
                    f"(reference UNKNOWN_CODEC)")
            lo, hi, allowed = spec
            args = (_split_top_commas(cm.group(2))
                    if cm.group(2) and cm.group(2).strip() else [])
            if not (lo <= len(args) <= hi):
                raise ValueError(
                    f"CODEC {cm.group(1)}: wrong number of "
                    f"parameters ({len(args)}; reference "
                    f"ILLEGAL_SYNTAX_FOR_CODEC_TYPE)")
            if allowed is not None and args \
                    and args[0].strip() not in allowed:
                raise ValueError(
                    f"CODEC {cm.group(1)}: parameter "
                    f"{args[0]!r} out of range "
                    f"(reference ILLEGAL_CODEC_PARAMETER)")


def _ts64_arg(a: list[str]) -> str:
    if len(a) != 1:
        raise ValueError(
            "toUnixTimestamp64*: exactly one DateTime64 argument "
            "(reference NUMBER_OF_ARGUMENTS_DOESNT_MATCH)")
    if re.fullmatch(r"\s*'[^']*'\s*", a[0]):
        raise ValueError(
            "toUnixTimestamp64*: illegal String argument "
            "(reference ILLEGAL_TYPE_OF_ARGUMENT)")
    return a[0]


def _format_string_sql(a: list[str]) -> str:
    """format('pattern', args...) with the reference's strict
    replacement-field syntax (src/Functions/formatString.h): ``{}``
    auto-numbered, ``{N}`` manual, ``{{``/``}}`` literal braces; any
    other field content, an unmatched brace, or an out-of-range index
    throws BAD_ARGUMENTS."""
    fmt = a[0].strip()
    if not (len(fmt) >= 2 and fmt.startswith("'") and fmt.endswith("'")):
        # non-literal pattern: plain %s substitution best-effort
        return (f"format_string(replace({a[0]}, '{{}}', '%s')"
                + "".join(f", {x}" for x in a[1:]) + ")")
    inner = fmt[1:-1]
    n_args = len(a) - 1
    pieces: list = []     # str literal chunks | ("arg", idx)
    i, auto = 0, 0
    used_auto = used_manual = False

    def lit(t: str) -> None:
        if pieces and isinstance(pieces[-1], str):
            pieces[-1] += t
        else:
            pieces.append(t)

    while i < len(inner):
        c = inner[i]
        if c == "{":
            if inner[i + 1:i + 2] == "{":
                lit("{")
                i += 2
                continue
            j = inner.find("}", i)
            if j < 0:
                raise ValueError("format: unmatched '{' in pattern")
            body = inner[i + 1:j]
            if body == "":
                if used_manual:
                    raise ValueError(
                        "format: cannot switch from manual to "
                        "automatic field numbering")
                used_auto = True
                idx = auto
                auto += 1
            elif body.isdigit():
                if used_auto:
                    raise ValueError(
                        "format: cannot switch from automatic to "
                        "manual field numbering")
                used_manual = True
                idx = int(body)
            else:
                raise ValueError(
                    f"format: invalid replacement field "
                    f"'{{{body}}}' (only {{}} or {{N}})")
            if idx >= n_args:
                raise ValueError(
                    f"format: argument index {idx} out of range "
                    f"({n_args} arguments)")
            pieces.append(("arg", idx))
            i = j + 1
            continue
        if c == "}":
            if inner[i + 1:i + 2] == "}":
                lit("}")
                i += 2
                continue
            raise ValueError("format: unmatched '}' in pattern")
        lit(c)
        i += 1
    if not pieces:
        return "''"
    parts = []
    for p in pieces:
        if isinstance(p, str):
            esc = p.replace("\\", "\\\\").replace("'", "\\'")
            parts.append(f"'{esc}'")
        else:
            parts.append(f"CAST({a[p[1] + 1]} AS STRING)")
    return parts[0] if len(parts) == 1 else \
        "concat(" + ", ".join(parts) + ")"


def _initialize_aggregation_sql(a: list[str]) -> str:
    """initializeAggregation('fState', v...) single-row states with
    the SCALAR carriers (matching the -State suffix aggregates and
    functions/longtail5.initializeAggregation): value for
    sum/min/max/any, 1 for count, (sum, count) struct for avg; other
    names fall back to arrayReduce over singleton arrays."""
    name = a[0].strip().strip("'\"").lower()
    if len(a) == 2:
        v = a[1]
        if name in ("sumstate", "minstate", "maxstate", "anystate",
                    "anylaststate"):
            return f"({v})"
        if name == "countstate":
            return "CAST(1 AS BIGINT)"
        if name == "avgstate":
            return (f"named_struct('sum', CAST({v} AS DOUBLE), "
                    f"'count', CAST(1 AS BIGINT))")
    return _array_reduce_sql([a[0]] + [f"array({v})" for v in a[1:]])


def _arr_quantile_sql(arr: str, level: float = 0.5) -> str:
    """Exact quantile of an array at ``level`` ignoring NaN elements
    (QuantileExact::add skips nan; rank = floor(n * level) + 1)."""
    f = f"filter({arr}, __qx -> NOT isnan(CAST(__qx AS DOUBLE)))"
    return (f"try_element_at(array_sort({f}), "
            f"CAST(floor(size({f}) * {level}) + 1 AS INT))")


def _array_reduce_sql(a: list[str]) -> str:
    """arrayReduce('agg', arr...) SQL form (reference
    src/Functions/array/arrayReduce.cpp) — constant-name dispatch.
    The -If combinator composes (AggregateFunctionIf.h): the LAST
    array is the condition vector; the value arrays filter to the
    positions where it is nonzero before the base aggregate."""
    name = a[0].strip().strip("'\"").lower()
    arr = a[1]
    if name.endswith("if") and name != "if" and len(a) >= 3:
        base = name[:-2]
        cond = a[-1]
        # keep value elements whose paired condition is nonzero
        arr = (f"transform(filter(arrays_zip({arr}, {cond}), "
               f"__p -> CAST(__p['1'] AS BOOLEAN)), __p -> __p['0'])")
        name = base
    # -OrNull / -OrDefault (AggregateFunctionOrFill.h): NULL / the
    # return type's default when nothing was aggregated
    or_null = or_default = False
    if name.endswith("ornull"):
        name, or_null = name[:-6], True
    elif name.endswith("ordefault"):
        name, or_default = name[:-9], True
    if or_null or or_default:
        base_sql = _array_reduce_sql([f"'{name}'", arr] + a[2:])
        if or_null:
            return (f"CASE WHEN size({arr}) = 0 THEN NULL "
                    f"ELSE {base_sql} END")
        # element-typed default: unwrap element-type-preserving array
        # calls until an array literal exposes its head element
        probe, head = arr.strip(), ""
        for _ in range(8):
            lit = re.fullmatch(r"(?is)array\s*\((.*)\)", probe)
            if lit:
                parts = (_split_top_commas(lit.group(1))
                         if lit.group(1).strip() else [])
                head = parts[0] if parts else ""
                break
            wrap = re.fullmatch(
                r"(?is)(?:array_remove|array_distinct|array_sort|"
                r"array_compact|slice|flatten|filter|reverse|"
                r"array_union|array_intersect|array_except)"
                r"\s*\((.*)\)", probe)
            if not wrap:
                break
            probe = _split_top_commas(wrap.group(1))[0].strip()
        dflt = _ordefault_default_sql(head, name)
        return (f"CASE WHEN size({arr}) = 0 THEN {dflt} "
                f"ELSE {base_sql} END")
    # -State carries the partial as a plain array (this engine's
    # array-backed state for the groupArray family / value vector for
    # scalar aggregates); -Merge takes an array of such states,
    # flattens, and applies the base (AggregateFunctionState.h /
    # AggregateFunctionMerge.h)
    if name.endswith("merge") and name != "merge":
        name = name[:-5]
        if name != "grouparrayintersect":
            # intersect states merge by intersection (the base form
            # below already folds arrays-of-arrays); all others union
            arr = f"flatten({arr})"
    elif name.endswith("state") and name != "state":
        base = name[:-5]
        if base.endswith("merge"):
            # MergeState: merge partial states, keep the state carrier
            # (flatten the array-of-state-arrays)
            inner = base[:-5]
            out = f"flatten({arr})"
            return (f"array_distinct({out})"
                    if inner in ("groupuniqarray", "uniq", "uniqexact")
                    else out)
        if base in ("grouparray", "groupuniqarray", "grouparrayintersect",
                    "sum", "min", "max", "any", "anylast", "uniq",
                    "uniqexact", "count", "avg"):
            if base in ("uniq", "uniqexact", "groupuniqarray"):
                return f"array_distinct({arr})"
            return arr
        raise NotImplementedError(
            f"arrayReduce: aggregate {name!r} not mapped")
    forms = {
        "sum": f"aggregate({arr}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)",
        "min": f"array_min({arr})",
        "max": f"array_max({arr})",
        "count": f"CAST(size({arr}) AS BIGINT)",
        "avg": f"aggregate({arr}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
               f" / size({arr})",
        "any": f"try_element_at({arr}, 1)",
        "anylast": f"try_element_at({arr}, -1)",
        # median = quantileExact(0.5): sorted element at
        # floor(n * 0.5) + 1 (AggregateFunctionQuantile exact rank)
        "median": (f"try_element_at(array_sort({arr}), "
                   f"CAST(floor(size({arr}) * 0.5) + 1 AS INT))"),
        # quantile family at the default 0.5 level; NaN elements are
        # ignored (QuantileExact::add skips nan — golden 00606/01813)
        "quantileexact": _arr_quantile_sql(arr),
        "quantilebfloat16": _arr_quantile_sql(arr),
        "quantile": _arr_quantile_sql(arr),
        "quantileexactexclusive": _arr_quantile_sql(arr),
        "quantileexactinclusive": _arr_quantile_sql(arr),
        "uniqexact": f"CAST(size(array_distinct({arr})) AS BIGINT)",
        "uniq": f"CAST(size(array_distinct({arr})) AS BIGINT)",
        "grouparray": arr,
        "groupuniqarray": f"array_distinct({arr})",
        "grouparrayintersect":
            f"aggregate(slice({arr}, 2, size({arr})), "
            f"try_element_at({arr}, 1), "
            f"(acc, x) -> array_intersect(acc, x))",
        "stddevsamp":
            f"sqrt((aggregate({arr}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x * x) - "
            f"pow(aggregate({arr}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x), 2) / size({arr})) "
            f"/ (size({arr}) - 1))",
        "stddevpop":
            f"sqrt((aggregate({arr}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x * x) - "
            f"pow(aggregate({arr}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x), 2) / size({arr})) "
            f"/ size({arr}))",
        "varsamp":
            f"((aggregate({arr}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x * x) - "
            f"pow(aggregate({arr}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x), 2) / size({arr})) "
            f"/ (size({arr}) - 1))",
        "varpop":
            f"((aggregate({arr}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x * x) - "
            f"pow(aggregate({arr}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x), 2) / size({arr})) "
            f"/ size({arr}))",
    }
    if name not in forms:
        raise NotImplementedError(f"arrayReduce: aggregate {name!r} not mapped")
    return forms[name]


_QUANT_CMP_RE = re.compile(
    r"(==|!=|<>|<=|>=|<|>|=)\s*(ANY|ALL)\s*\(", re.IGNORECASE)


def _rewrite_quantified_comparisons(sql: str) -> str:
    """``expr <op> ANY|ALL (subquery)`` (reference
    src/Parsers/ExpressionListParsers.cpp quantified comparison;
    Spark's parser has no quantified predicates):
    ``= ANY`` -> IN, ``!= ALL`` -> NOT IN, and the general forms fold
    the subquery to a scalar flag — ANY: max(op-holds) = 1 (empty ->
    false), ALL: min(op-holds) = 1 (empty -> true)."""
    while True:
        m = None
        for mm in _QUANT_CMP_RE.finditer(sql):
            # the paren must open a subquery, not a call like any(x)
            nxt = sql[mm.end():mm.end() + 30].lstrip().upper()
            if nxt.startswith(("SELECT", "WITH")):
                m = mm
                break
        if m is None:
            return sql
        op = "=" if m.group(1) == "==" else m.group(1)
        quant = m.group(2).upper()
        # balance the subquery parens
        depth, j = 1, m.end()
        while j < len(sql) and depth:
            if sql[j] in "'\"":
                j = _skip_string(sql, j)
                continue
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        sub = sql[m.end():j - 1]
        left_start = _expr_left_boundary(sql, m.start())
        left = sql[left_start:m.start()].strip()
        if op == "=" and quant == "ANY":
            repl = f" {left} IN ({sub}) "
        elif op in ("!=", "<>") and quant == "ALL":
            repl = f" {left} NOT IN ({sub}) "
        else:
            agg = "max" if quant == "ANY" else "min"
            empty = 0 if quant == "ANY" else 1
            repl = (f" ((SELECT coalesce({agg}(CASE WHEN ({left}) {op} "
                    f"__qv THEN 1 ELSE 0 END), {empty}) "
                    f"FROM ({sub}) AS __qt(__qv)) = 1) ")
        sql = sql[:left_start] + repl + sql[j:]


# Spark SQL type words — an `AS <type>` inside a call argument is a
# CAST-shaped spelling, never an inline alias
_SPARK_TYPE_WORDS = {
    "TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "LONG",
    "FLOAT", "REAL", "DOUBLE", "DECIMAL", "STRING", "VARCHAR",
    "CHAR", "BINARY", "BOOLEAN", "DATE", "TIMESTAMP",
    "TIMESTAMP_NTZ", "TIMESTAMP_LTZ", "INTERVAL", "ARRAY", "MAP",
    "STRUCT", "VARIANT", "BYTE", "SHORT",
}

_INLINE_ALIAS_KW = {
    "select", "from", "where", "group", "order", "having", "limit",
    "union", "intersect", "except", "on", "by", "as", "and", "or",
    "not", "in", "is", "null", "true", "false", "between", "like",
    "settings", "format",
}


_GBY_AGG_RE = re.compile(
    r"(?i)\b(count|sum|min|max|avg|any|uniq\w*|group\w+|median|"
    r"quantile\w*|argMin|argMax|corr|stddev\w*|var\w*|topK\w*)\s*\(")


def _rewrite_groupby_alias_shadow(sql: str) -> str:
    """A GROUP BY key naming a SELECT alias that SHADOWS a source
    column resolves to the ALIAS in the reference (QueryAnalyzer
    prefers projection aliases — golden 02352 `round(number % 3) AS
    number ... GROUP BY number` groups 3 ways, not 20); Spark prefers
    the column.  Substitute the defining expression when it is not
    the bare name itself."""
    tops = _top_level_set(sql)
    gm = next((m for m in re.finditer(r"(?i)\bGROUP\s+BY\s", sql)
               if m.start() in tops), None)
    if gm is None:
        return sql
    pm = re.match(r"(?is)^\s*SELECT\s+(?:DISTINCT\s+)?(.*)$", sql)
    if pm is None:
        return sql
    proj = pm.group(1)
    ptops = _top_level_set(proj)
    fm = next((m for m in re.finditer(r"(?i)\bFROM\b", proj)
               if m.start() in ptops), None)
    if fm is None:
        return sql
    defs = {}
    for it in _split_top_commas(proj[:fm.start()]):
        am = re.search(r"^(.*\S)\s+AS\s+`?(\w+)`?\s*$", it.strip(),
                       re.IGNORECASE | re.DOTALL)
        if am is None:
            continue
        expr, nm = am.group(1).strip(), am.group(2)
        # only SHADOWING aliases (the expression references its own
        # name) need the substitution; plain aliases group natively,
        # and aggregate/window definitions cannot be grouping keys
        if expr == nm or not re.search(
                rf"(?<![\w.`]){re.escape(nm)}(?![\w`(])", expr) \
                or _GBY_AGG_RE.search(expr) \
                or re.search(r"(?i)\bOVER\s*\(", expr):
            continue
        defs[nm] = expr
    if not defs:
        return sql
    end = next((m.start() for m in re.finditer(
        r"(?i)\b(HAVING|ORDER\s+BY|LIMIT|SETTINGS|UNION|QUALIFY|"
        r"WINDOW|WITH\s+(ROLLUP|CUBE|TOTALS))\b", sql, )
        if m.start() in tops and m.start() > gm.end()), len(sql))
    items = _split_top_commas(sql[gm.end():end])
    new_items = [f"({defs[i.strip().strip('`')]})"
                 if i.strip().strip("`") in defs else i.strip()
                 for i in items]
    if [i.strip() for i in items] == new_items:
        return sql
    return (sql[:gm.end()] + ", ".join(new_items) + " " + sql[end:])


_CANON_CH_SCALARS = {
    "int8": "Int8", "int16": "Int16", "int32": "Int32",
    "int64": "Int64", "int128": "Int128", "int256": "Int256",
    "uint8": "UInt8", "uint16": "UInt16", "uint32": "UInt32",
    "uint64": "UInt64", "uint128": "UInt128", "uint256": "UInt256",
    "float32": "Float32", "float64": "Float64", "string": "String",
    "date": "Date", "date32": "Date32", "datetime": "DateTime",
    "bool": "Bool", "boolean": "Bool", "uuid": "UUID", "json": "JSON",
    # MySQL compatibility aliases (golden 02969)
    "double": "Float64", "real": "Float32", "char": "String",
    "signed": "Int64", "unsigned": "UInt64", "year": "UInt16",
    "decimal": "Decimal(10, 0)", "ipv4": "IPv4", "ipv6": "IPv6",
}


def _canon_ch_type(t: str):
    """Canonical reference NAME of a statically-declared CH type
    (IDataType::getName): DecimalNN(S) -> Decimal(P, S)
    (DataTypesDecimal.cpp:30), BINARY(N) -> FixedString(N), MySQL
    CAST aliases to their native types.  None when the spelling
    isn't confidently canonicalizable (caller keeps runtime typing)."""
    t = t.strip()
    low = t.lower()
    if low in _CANON_CH_SCALARS:
        return _CANON_CH_SCALARS[low]
    m = re.fullmatch(r"(?is)(Nullable|LowCardinality|Array)\s*\((.*)\)",
                     t)
    if m:
        inner = _canon_ch_type(m.group(2))
        head = {"nullable": "Nullable", "lowcardinality":
                "LowCardinality", "array": "Array"}[m.group(1).lower()]
        return f"{head}({inner})" if inner else None
    m = re.fullmatch(r"(?i)(?:Binary|FixedString)\s*\(\s*(\d+)\s*\)", t)
    if m:
        return f"FixedString({m.group(1)})"
    m = re.fullmatch(r"(?i)Decimal\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
                     t)
    if m:
        return f"Decimal({m.group(1)}, {int(m.group(2) or 0)})"
    m = re.fullmatch(r"(?i)Decimal(32|64|128|256)\s*\(\s*(\d+)\s*\)", t)
    if m:
        p = {"32": 9, "64": 18, "128": 38, "256": 76}[m.group(1)]
        return f"Decimal({p}, {m.group(2)})"
    m = re.fullmatch(r"(?i)DateTime64\s*\(\s*(\d+)\s*"
                     r"(?:,\s*'([^']*)'\s*)?\)", t)
    if m:
        return (f"DateTime64({m.group(1)}, '{m.group(2)}')"
                if m.group(2) else f"DateTime64({m.group(1)})")
    m = re.fullmatch(r"(?i)DateTime\s*\(\s*'([^']*)'\s*\)", t)
    if m:
        return f"DateTime('{m.group(1)}')"
    return None


def _cast_declared_type(expr: str):
    """The statically-declared CH type of ``expr`` when it is a
    CAST(x AS T) / x::T at its top level, else None."""
    s = expr.strip()
    while s.startswith("(") and s.endswith(")") \
            and _balanced(s[1:-1]):
        s = s[1:-1].strip()
    m = re.match(r"(?is)^CAST\s*\(", s)
    if m and s.endswith(")") and _balanced(s[m.end():-1]):
        inner = s[m.end():-1]
        # last top-level ' AS ' inside the cast parens carries the type
        last = None
        for am in re.finditer(r"(?i)\sAS\s", inner):
            if am.start() in _top_level_set(inner):
                last = am
        if last is not None:
            return inner[last.end():].strip()
        # two-arg form CAST(x, 'T')
        parts = _split_top_commas(inner)
        if len(parts) == 2 and re.fullmatch(r"\s*'[^']*'\s*", parts[1]):
            return parts[1].strip().strip("'")
        return None
    m = re.search(r"::\s*([A-Za-z]\w*(?:\s*\((?:[^()]|\([^()]*\))*\))?)"
                  r"\s*$", s)
    if m and m.start() in _top_level_set(s):
        return m.group(1)
    return None


def _balanced(s: str) -> bool:
    d = 0
    for c in s:
        if c == "(":
            d += 1
        elif c == ")":
            d -= 1
            if d < 0:
                return False
    return d == 0


def _fold_totypename_static(sql: str) -> str:
    """toTypeName over a statically-declared CAST folds to the
    DECLARED type name at translation time (the reference resolves
    toTypeName on the compile-time header, QueryAnalyzer) — the
    runtime carrier cannot distinguish e.g. FixedString(3) from
    String or the declared Decimal(4, 2) from its storage width
    (golden 02969_mysql_cast_type_aliases)."""
    if not re.search(r"(?i)\btoTypeName\s*\(", sql):
        return sql
    # alias -> canonical declared type (single-SELECT statements only:
    # alias scoping across subqueries isn't tracked here)
    alias_types: dict[str, str] = {}
    if len(re.findall(r"(?i)\bSELECT\b", sql)) == 1:
        pm = re.match(r"(?is)^\s*SELECT\s+(?:DISTINCT\s+)?(.*)$", sql)
        if pm is not None:
            proj = pm.group(1)
            ptops = _top_level_set(proj)
            fm = next((m for m in re.finditer(r"(?i)\bFROM\b", proj)
                       if m.start() in ptops), None)
            for it in _split_top_commas(proj[:fm.start()] if fm
                                        else proj):
                am = re.search(r"(?is)^(.*\S)\s+AS\s+`?(\w+)`?\s*$",
                               it.strip())
                if am is None:
                    continue
                dt = _cast_declared_type(am.group(1))
                canon = _canon_ch_type(dt) if dt else None
                if canon:
                    alias_types[am.group(2).lower()] = canon
    out, pos = sql, 0
    while True:
        m = re.search(r"(?i)\btoTypeName\s*\(", out[pos:])
        if m is None:
            break
        start = pos + m.start()
        open_i = pos + m.end() - 1
        depth, j = 1, open_i + 1
        while j < len(out) and depth:
            if out[j] == "'":
                k = j + 1
                while k < len(out) and out[k] != "'":
                    k += 2 if out[k] == "\\" else 1
                j = k
            elif out[j] == "(":
                depth += 1
            elif out[j] == ")":
                depth -= 1
            j += 1
        arg = out[open_i + 1:j - 1].strip()
        canon = None
        if re.fullmatch(r"`?\w+`?", arg):
            canon = alias_types.get(arg.strip("`").lower())
        else:
            dt = _cast_declared_type(arg)
            canon = _canon_ch_type(dt) if dt else None
        if canon:
            repl = f"'{canon}'"
            out = out[:start] + repl + out[j:]
            pos = start + len(repl)
        else:
            pos = j
    return out


_DECIMAL_DIV_HEAD_RE = re.compile(
    r"(?i)\btoDecimal(32|64|128|256)\s*\(")


_OBJECT_CAST_RE = re.compile(
    r"('(?:[^'\\]|\\.)*')\s*::\s*Object\s*\(\s*(?:Nullable\s*\(\s*)?"
    r"'(?i:json)'\s*\)?\s*\)", re.IGNORECASE)


def _rewrite_object_literal_casts(sql: str) -> str:
    """``'{"a":{"b":1}}'::Object('json')`` — an UNFINALIZED Object
    value renders as a JSON object with DOT-FLATTENED paths
    (SerializationObject text output; golden 01825_type_json_5
    ``{"a.b":1,"a.c":2}``).  Fold the constant at translation
    time."""
    import json as _json

    def sub(m: re.Match) -> str:
        raw = m.group(1)[1:-1].replace("\\'", "'")
        try:
            doc = _json.loads(raw)
        except Exception:
            return m.group(1)
        if not isinstance(doc, dict):
            return m.group(1)
        flat: dict = {}

        def walk(v, prefix):
            if isinstance(v, dict) and v:
                for k, x in v.items():
                    walk(x, f"{prefix}.{k}" if prefix else k)
            else:
                flat[prefix] = v
        walk(doc, "")
        out = _json.dumps(flat, separators=(",", ":"))
        return "'" + out.replace("'", "\\'") + "'"

    return _OBJECT_CAST_RE.sub(sub, sql)


def _rewrite_decimal_div(sql: str) -> str:
    """CH decimal division TRUNCATES toward zero at the dividend's
    scale (DecimalBinaryOperation.h DivideImpl — integer division of
    the scaled value); Spark rounds HALF_UP.  For the statically-
    typed ``toDecimalNN(x, s) / <int>`` shape, compute via integral
    `div` on the scaled value (exact: scaling and the final
    power-of-ten division are exact in decimal)."""
    out = sql
    pos = 0
    while True:
        m = _DECIMAL_DIV_HEAD_RE.search(out, pos)
        if m is None:
            break
        open_i = out.index("(", m.end() - 1)
        end_i = _matching_paren(out, open_i)
        if end_i < 0:
            pos = m.end()
            continue
        tail = out[end_i + 1:]
        dm = re.match(r"\s*/\s*(\d+)(?![\d.])", tail)
        args = _split_top_commas(out[open_i + 1:end_i])
        if dm is None or len(args) != 2 \
                or not re.fullmatch(r"\s*\d+\s*", args[1]):
            pos = m.end()
            continue
        s = int(args[1])
        divisor = dm.group(1)
        p = {"32": 9, "64": 18, "128": 38, "256": 38}[m.group(1)]
        call = out[m.start():end_i + 1]
        repl = (f"CAST((CAST(({call}) * {10 ** s} AS DECIMAL(38,0)) "
                f"div {divisor}) / {10 ** s} AS DECIMAL({p},{s}))")
        out = (out[:m.start()] + repl
               + out[end_i + 1 + dm.end():])
        pos = m.start() + len(repl)
    return out


def _top_level_arrow(s: str) -> bool:
    """True when ``s`` contains a lambda arrow '->' outside any paren
    group or string literal (i.e. ``s`` IS a lambda argument)."""
    depth, i, n = 0, 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            i = _skip_string(s, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and c == "-" and s[i:i + 2] == "->":
            return True
        i += 1
    return False


def _rewrite_inline_aliases(sql: str) -> str:
    """CH lets any PARENTHESIZED subexpression carry an alias that is
    visible elsewhere in the query — ``SELECT (0 AS a) ? (2 AS b) :
    (3 AS c) AS d, a, b`` (reference ParserExpressionElement alias
    rules; SURVEY 'non-standard SQL semantics').  Spark has no inline
    aliases, so: strip each ``(expr AS name)`` to ``name`` and define
    the names in a wrapping subquery under FROM (lateral column
    aliases resolve def-to-def references).  Sites at ANY paren depth
    are extracted — including inside aggregate/function arguments
    (``SELECT sum((2*id) AS func), func`` — CH aliases are
    query-global, QueryAnalyzer) — EXCEPT inside a subquery, whose
    inline aliases belong to that subquery's scope."""
    defs: list[tuple[str, str]] = []
    while True:
        found = False
        i, n = 0, len(sql)
        out: list[str] = []
        stack: list[bool] = []    # per open paren: is it a subquery?
        # lambda tracking (ADVICE r12): a '->' at the current paren
        # level marks the rest of that ARGUMENT as a lambda body whose
        # inline aliases reference the lambda parameter and must not
        # be hoisted; a top-level ',' ends the argument.
        lam: list[bool] = []      # per open paren: inside a lambda body?
        arrow = [False]           # per depth: '->' seen in current arg
        while i < n:
            c = sql[i]
            if c in "'\"":
                j = _skip_string(sql, i)
                out.append(sql[i:j])
                i = j
                continue
            if c == "-" and sql[i:i + 2] == "->":
                arrow[-1] = True
                out.append("->")
                i += 2
                continue
            if c == ",":
                arrow[-1] = False
            if c == ")":
                if stack:
                    stack.pop()
                    lam.pop()
                    arrow.pop()
                out.append(c)
                i += 1
                continue
            if c == "(":
                prev = "".join(out).rstrip()
                ptok = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\s*$", prev)
                is_call = bool(re.search(r"[A-Za-z_0-9`\]]$", prev)) \
                    and not (ptok and ptok.group(1).lower()
                             in _INLINE_ALIAS_KW | {"when", "then",
                                                    "else", "distinct"})
                is_subq = sql[i + 1:i + 40].lstrip().upper() \
                    .startswith(("SELECT", "WITH"))
                in_lambda = arrow[-1] or any(lam)
                if not is_subq and not any(stack):
                    try:
                        items, after = _parse_args(sql, i)
                    except Exception:
                        stack.append(is_subq)
                        lam.append(in_lambda)
                        arrow.append(False)
                        out.append(c)
                        i += 1
                        continue

                    def _aliased(body: str):
                        m2 = re.fullmatch(
                            r"(?is)(.*\S)\s+AS\s+(`?\w+`?)", body)
                        if m2 is None:
                            return None
                        nm2 = m2.group(2).strip("`")
                        if (body.upper().startswith(("SELECT", "WITH"))
                                or nm2.lower() in _INLINE_ALIAS_KW
                                or nm2.lower() in _CH_CAST_TYPES
                                or nm2.upper() in _SPARK_TYPE_WORDS):
                            return None
                        return nm2, m2.group(1)

                    if not is_call and len(items) == 1:
                        # (expr AS name) group: strip to the name.
                        # Inside a lambda body (ADVICE r12) the
                        # expression references the lambda parameter —
                        # unresolvable in a wrapping subquery — so
                        # drop the alias in place instead of hoisting.
                        hit = _aliased(items[0].strip())
                        if hit and in_lambda:
                            out.append(f"({hit[1]})")
                            out.append(sql[after:])
                            sql = "".join(out)
                            found = True
                            break
                        if hit:
                            defs.append(hit)
                            out.append(hit[0])
                            out.append(sql[after:])
                            sql = "".join(out)
                            found = True
                            break
                    elif not in_lambda and is_call and ptok and not (
                            ptok.group(1).lower().endswith("cast")
                            or ptok.group(1).lower() in (
                                "exists", "replace", "except",
                                "columns", "apply")):
                        # a function ARGUMENT carrying an alias —
                        # ``sum((2*id) AS func)`` — hoist the defining
                        # expression, leave the bare name as the arg.
                        # Lambda arguments (top-level '->') keep their
                        # aliases: they reference the lambda parameter.
                        hits = [(k, None if _top_level_arrow(it)
                                 else _aliased(it.strip()))
                                for k, it in enumerate(items)]
                        hits = [(k, h) for k, h in hits if h]
                        if hits:
                            for _k, (nm3, ex3) in hits:
                                defs.append((nm3, ex3))
                            new_items = [
                                next((h[0] for k2, h in hits
                                      if k2 == k), it.strip())
                                for k, it in enumerate(items)]
                            out.append("(" + ", ".join(new_items) + ")")
                            out.append(sql[after:])
                            sql = "".join(out)
                            found = True
                            break
                stack.append(is_subq)
                lam.append(arrow[-1] or any(lam))
                arrow.append(False)
                out.append(c)
                i += 1
                continue
            out.append(c)
            i += 1
        if not found:
            break
    if not defs:
        return sql
    def_sql = ", ".join(f"({e}) AS `{nm}`" for nm, e in defs)
    tops = _top_level_set(sql)
    fm = next((mm for mm in re.finditer(r"\bFROM\b", sql, re.IGNORECASE)
               if mm.start() in tops), None)
    if fm is None:
        cm = next((mm for mm in _CLAUSE_AFTER_FROM_RE.finditer(sql)
                   if mm.start() in tops), None)
        at = cm.start() if cm else len(sql)
        return (sql[:at].rstrip() + f" FROM (SELECT {def_sql}) "
                + sql[at:])
    cm = next((mm for mm in _CLAUSE_AFTER_FROM_RE.finditer(sql, fm.end())
               if mm.start() in tops), None)
    at = cm.start() if cm else len(sql)
    src = sql[fm.end():at].strip()
    return (sql[:fm.start()] + f"FROM (SELECT *, {def_sql} FROM {src}) "
            + sql[at:])


_ARRAYJOIN_FN_RE = re.compile(r"\barrayJoin\s*\(", re.IGNORECASE)
_CLAUSE_AFTER_FROM_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|QUALIFY|ORDER\s+BY|LIMIT|WINDOW|"
    r"UNION|INTERSECT|EXCEPT|SETTINGS)\b", re.IGNORECASE)


def _rewrite_arrayjoin_fn(sql: str) -> str:
    """arrayJoin(x) used INSIDE an expression (reference
    src/Functions/arrayJoin.cpp allows it anywhere in the select list:
    ``SELECT arrayJoin(arr) LIKE 'a%'``): Spark's explode() generator
    must sit at projection top level, so hoist each distinct arrayJoin
    argument into a LATERAL VIEW explode and substitute the generated
    column.  Identical argument texts share one expansion (CH
    semantics); distinct arguments multiply (cartesian) exactly like
    chained LATERAL VIEWs.  Hoists only sites in the OUTER query —
    a site is skipped when any enclosing paren group begins with
    SELECT/WITH (it belongs to that subquery's scope); skips entirely
    when every arrayJoin call is already a whole projection item (the
    top-level form maps to explode directly)."""
    sites = []
    stack: list[bool] = []      # per open paren: is it a subquery?
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"":
            i = _skip_string(sql, i)
            continue
        if c == "(":
            nxt = sql[i + 1:i + 40].lstrip().upper()
            stack.append(nxt.startswith(("SELECT", "WITH")))
            i += 1
            continue
        if c == ")":
            if stack:
                stack.pop()
            i += 1
            continue
        m = _ARRAYJOIN_FN_RE.match(sql, i)
        if m:
            try:
                args, after = _parse_args(sql, sql.index("(", m.start()))
            except Exception:
                return sql
            if len(args) != 1:
                return sql
            if _ARRAYJOIN_FN_RE.search(args[0]):
                # nested arrayJoin: hoist the INNER call this pass
                # (descend into the argument); the outer call becomes
                # non-nested after substitution and a recursive pass
                # chains a second LATERAL VIEW
                i = m.end()
                continue
            if not any(stack):
                sites.append((m.start(), after, args[0].strip()))
            i = after
            continue
        i += 1
    if not sites:
        return sql
    tops = _top_level_set(sql)
    sm = re.search(r"\bSELECT\b(\s+DISTINCT\b)?", sql, re.IGNORECASE)
    if sm is None:
        return sql
    fm = next((mm for mm in re.finditer(r"\bFROM\b", sql, re.IGNORECASE)
               if mm.start() in tops), None)
    sel_end = fm.start() if fm else len(sql)
    items = {it.strip() for it in
             _split_top_commas(sql[sm.end():sel_end])}

    def is_whole_item(s: int, e: int) -> bool:
        body = sql[s:e]
        return (body in items
                or any(re.fullmatch(re.escape(body) + r"\s+AS\s+`?\w+`?",
                                    it, re.IGNORECASE) for it in items))

    if all(is_whole_item(s, e) for s, e, _ in sites):
        return sql
    # assign one alias per distinct argument text
    arg_alias: dict[str, str] = {}
    for _s, _e, a in sites:
        arg_alias.setdefault(" ".join(a.split()), f"__aj{len(arg_alias) + 1}")
    for s, e, a in sorted(sites, reverse=True):
        sql = sql[:s] + arg_alias[" ".join(a.split())] + sql[e:]
    lateral = " ".join(
        f"LATERAL VIEW explode({arg}) __ajt{alias[4:]} AS {alias}"
        for arg, alias in arg_alias.items())
    tops = _top_level_set(sql)
    fm = next((mm for mm in re.finditer(r"\bFROM\b", sql, re.IGNORECASE)
               if mm.start() in tops), None)
    if fm is None:
        # expression-only SELECT: synthesize a one-row FROM
        cm = next((mm for mm in
                   _CLAUSE_AFTER_FROM_RE.finditer(sql)
                   if mm.start() in tops), None)
        at = cm.start() if cm else len(sql)
        return _rewrite_arrayjoin_fn(
            sql[:at].rstrip() + f" FROM (SELECT 1 AS __one) "
            + lateral + " " + sql[at:])
    cm = next((mm for mm in _CLAUSE_AFTER_FROM_RE.finditer(sql, fm.end())
               if mm.start() in tops), None)
    at = cm.start() if cm else len(sql)
    # a formerly-nested OUTER arrayJoin may have become hoistable
    return _rewrite_arrayjoin_fn(
        sql[:at].rstrip() + " " + lateral + " " + sql[at:])


def _case_when(args: list[str]) -> str:
    parts = ["CASE"]
    i = 0
    while i + 1 < len(args):
        parts.append(f"WHEN CAST({args[i]} AS BOOLEAN) "
                     f"THEN {args[i + 1]}")
        i += 2
    if i < len(args):
        parts.append(f"ELSE {args[i]}")
    parts.append("END")
    return " ".join(parts)


def _regex_quote(literal: str) -> str:
    """Escape a quoted separator literal for use as a split() regex."""
    s = literal.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        inner = s[1:-1]
        escaped = re.sub(r"([\\.^$|?*+()\[\]{}])", r"\\\\\1", inner)
        return f"'{escaped}'"
    return literal


def _mysql_fmt_literal(literal: str) -> str:
    from ..functions.registry import _mysql_fmt
    s = literal.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return f"'{_mysql_fmt(s[1:-1])}'"
    return literal


def _format_datetime_sql(a: list[str]) -> str:
    """formatDateTime(x, 'fmt'[, tz]) — compile the MySQL-style
    specifier string into date_format pieces + computed expressions
    (reference src/Functions/formatDateTime.cpp; the full Instruction
    table lives in functions/mysqlfmt.py).  Literal text between
    specifiers is pattern-quoted, never interpreted.  Unknown and
    week-mode specifiers raise, matching the reference's rejections."""
    from clickhouse_core_spark.functions import mysqlfmt
    x = a[0]
    if re.fullmatch(r"\s*'[^']*'\s*", x):
        # the reference requires a Date/DateTime first argument —
        # a bare String literal is ILLEGAL_TYPE_OF_ARGUMENT
        raise ValueError(
            "formatDateTime: illegal type String of first argument "
            "(expected Date or DateTime)")
    fmt = a[1].strip()
    if not (len(fmt) >= 2 and fmt[0] == "'" and fmt[-1] == "'"):
        # non-literal format string: legacy single-pattern best effort
        return f"date_format({x}, {_mysql_fmt_literal(fmt)})"
    inner = fmt[1:-1].replace("\\'", "'").replace("''", "'")
    if len(a) >= 3:
        # third arg = result timezone (instant formatted in that zone;
        # the session zone is UTC)
        x = f"from_utc_timestamp({x}, {a[2]})"
    segs = mysqlfmt.segments(inner)      # raises on bad specifiers
    pieces = []
    for kind, payload in mysqlfmt.merge_pattern_runs(segs):
        if kind == "pat":
            esc = payload.replace("\\", "\\\\").replace("'", "\\'")
            pieces.append(f"date_format({x}, '{esc}')")
        else:
            pieces.append(
                mysqlfmt.COMPUTED_SQL[payload].format(x=f"({x})"))
    if not pieces:
        return "''"
    if len(pieces) == 1:
        return pieces[0]
    return "concat(" + ", ".join(pieces) + ")"


# ------------------------------------------------------------- scanner

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _skip_string(sql: str, i: int) -> int:
    """i points at the opening quote; return index past the close."""
    q = sql[i]
    i += 1
    while i < len(sql):
        if sql[i] == "\\" and q == "'":
            i += 2
            continue
        if sql[i] == q:
            if i + 1 < len(sql) and sql[i + 1] == q:  # '' escape
                i += 2
                continue
            return i + 1
        i += 1
    return i


_CH_SIMPLE_ESCAPES = {"n": 0x0A, "t": 0x09, "r": 0x0D, "0": 0x00,
                      "a": 0x07, "b": 0x08, "f": 0x0C, "v": 0x0B,
                      "'": 0x27, '"': 0x22, "\\": 0x5C, "`": 0x60,
                      "/": 0x2F}


def _decode_hex_escapes_in_literal(lit: str) -> str:
    """CH string literals take ``\\xHH`` byte escapes (reference
    src/Parsers/Lexer.cpp / parseComplexEscapeSequence), which Spark's
    lexer does not know — ``'\\xe2'`` would arrive as the 3-char text
    ``xe2``.  Fully decode the literal to bytes; re-emit as a plain
    Spark literal when the result is valid UTF-8, else as
    CAST(X'<hex>' AS STRING) (UTF8String carries arbitrary bytes).
    Only called for literals containing a \\xHH sequence (golden
    02071_lower_upper_utf8_row_overlaps)."""
    body = lit[1:-1]
    out = bytearray()
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == "\\" and i + 1 < n:
            nxt = body[i + 1]
            if nxt == "x" and re.match(r"[0-9A-Fa-f]{2}",
                                       body[i + 2:i + 4]):
                out.append(int(body[i + 2:i + 4], 16))
                i += 4
                continue
            if nxt in _CH_SIMPLE_ESCAPES:
                out.append(_CH_SIMPLE_ESCAPES[nxt])
                i += 2
                continue
            # unknown escape: the CH lexer keeps the char itself
            out += nxt.encode("utf-8")
            i += 2
            continue
        if c == "'" and i + 1 < n and body[i + 1] == "'":
            out.append(0x27)
            i += 2
            continue
        out += c.encode("utf-8")
        i += 1
    try:
        txt = bytes(out).decode("utf-8")
        return ("'" + txt.replace("\\", "\\\\").replace("'", "\\'")
                + "'")
    except UnicodeDecodeError:
        return f"CAST(X'{bytes(out).hex().upper()}' AS STRING)"


def _parse_args(sql: str, i: int) -> tuple[list[str], int]:
    """i points at '('; return (raw top-level args, index past ')')."""
    assert sql[i] == "("
    depth = 1
    i += 1
    args, cur = [], []
    while i < len(sql) and depth > 0:
        c = sql[i]
        if c in "'\"":
            j = _skip_string(sql, i)
            cur.append(sql[i:j])
            i = j
            continue
        if c in "([":
            depth += 1
        elif c == "]":
            depth -= 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                break
        elif c == "," and depth == 1:
            args.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    if cur or args:
        args.append("".join(cur))
    return [a.strip() for a in args], i + 1


_EXPR_KEYWORDS = {
    "select", "where", "and", "or", "not", "when", "then", "else", "in",
    "as", "on", "by", "having", "from", "union", "all", "distinct",
    "between", "like", "ilike", "case", "array",
}


def _bracket_is_literal(out: list) -> bool:
    """A '[' opens an array literal (vs an index) when it sits in
    expression position: start of input, after an operator/open paren/
    comma, or after a keyword."""
    prev = "".join(out).rstrip()
    if not prev:
        return True
    ch = prev[-1]
    if ch in "(,=<>+-*/%|[":
        return True
    m = re.search(r"([A-Za-z_][A-Za-z0-9_]*)$", prev)
    return bool(m) and m.group(1).lower() in _EXPR_KEYWORDS


def _split_bracket(sql: str, i: int) -> tuple[list, int]:
    """Parse '[...]' starting at i; return top-level element strings and
    the index just past the closing bracket."""
    assert sql[i] == "["
    depth = 0
    j = i
    parts, start = [], i + 1
    n = len(sql)
    while j < n:
        c = sql[j]
        if c in "'\"":
            j = _skip_string(sql, j)
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
            if depth == 0 and c == "]":
                parts.append(sql[start:j])
                return parts, j + 1
        elif c == "," and depth == 1:
            parts.append(sql[start:j])
            start = j + 1
        j += 1
    raise ValueError("unbalanced [ in expression")


_SQL_KEYWORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "IN", "THEN", "ELSE", "WHEN",
    "CASE", "END", "ON", "USING", "FROM", "JOIN", "BY", "AS", "HAVING",
    "LIMIT", "OFFSET", "UNION", "ALL", "DISTINCT", "INTERVAL", "IS",
    "BETWEEN", "LIKE", "ILIKE", "RLIKE", "EXISTS", "WITH", "SETTINGS",
    "PREWHERE", "QUALIFY", "RETURNING", "VALUES", "ASC", "DESC",
}


def _wrap_subscript(prev: str, idx_expr: str) -> str | None:
    """Rewrite the trailing operand of ``prev`` into
    ``element_at(operand, idx)`` — CH subscripts are 1-based on arrays
    (negative = from the end) and key-based on maps, which is exactly
    element_at; Spark's native ``[]`` is 0-based on arrays and would
    silently shift every element.  Returns None when the operand can't
    be identified (caller passes the subscript through unchanged)."""
    s = prev.rstrip()
    trail = prev[len(s):]
    if s.endswith(")") or s.endswith("]"):
        # string-aware forward scan: opener position matching the final
        # close (a backward scan can't skip quoted content reliably)
        stack: list[int] = []
        opener = None
        k = 0
        while k < len(s):
            ch = s[k]
            if ch in "'\"":
                k = _skip_string(s, k)
                continue
            if ch in "([":
                stack.append(k)
            elif ch in ")]":
                op = stack.pop() if stack else None
                if k == len(s) - 1:
                    opener = op
            k += 1
        if opener is None:
            return None
        m = re.search(r"[\w.`]+\s*$", s[:opener])
        # a SQL keyword before the parenthesized operand is clause
        # syntax, not a function-call head (WITH-alias inlining can
        # place `(expr)[i]` right after SELECT/WHERE/THEN/...)
        if m and m.group(0).strip().strip("`").upper() in _SQL_KEYWORDS:
            m = None
        start = m.start() if m else opener
    else:
        m = re.search(r"[\w.`]+$", s)
        if not m:
            return None
        start = m.start()
    operand = s[start:]
    # try_element_at: out-of-range subscripts yield NULL instead of an
    # ANSI-mode error (sessions must be able to run with ANSI on).
    # Index 0 still throws INVALID_INDEX_OF_ZERO in Spark — CH returns
    # the default value there; NULL is the closest carrier.
    idx = idx_expr.strip()
    # an integer-literal index beyond INT range would fail element_at's
    # INT parameter check; CH returns the out-of-range default — clamp
    # to a still-out-of-range INT so try_element_at yields NULL
    if re.fullmatch(r"[+-]?\d+", idx) and abs(int(idx)) > 2147483647:
        idx_expr = "-2147483647" if idx.lstrip().startswith("-") \
            else "2147483647"
    if re.fullmatch(r"(?i)(cast\s*\(\s*[+-]?0\s+as\s+[a-z0-9_]+\s*\)"
                    r"|[+-]?0(\s*::\s*[a-z0-9_()]+)?)", idx):
        # literal index 0 (possibly typed): typed NULL via a dead
        # branch that pins the element type
        return (s[:start]
                + f"IF(true, NULL, try_element_at({operand}, 1))"
                + trail)
    return s[:start] + f"try_element_at({operand}, {idx_expr})" + trail


# Aggregate bases that compose with the -If / -Array combinator
# suffixes in SQL (AggregateFunctionIf.h / AggregateFunctionArray.h —
# any aggregate composes in the reference; this is the set with exact
# Spark rewrites).  sumIf/avgIf/minIf/maxIf/countIf keep their
# dedicated rules above.
_IF_BASES = {"any", "anylast", "argmin", "argmax", "uniq", "uniqexact",
             "uniqcombined", "uniqcombined64", "uniqhll12", "stddevpop",
             "stddevsamp", "varpop", "varsamp", "covarpop", "covarsamp",
             "corr", "median", "grouparray", "groupuniqarray", "sum",
             "avg", "min", "max"}
_ARRAY_BASES = {
    "sum": lambda flat: (f"aggregate({flat}, CAST(0 AS DOUBLE), "
                         f"(a, x) -> a + CAST(x AS DOUBLE))"),
    "avg": lambda flat: (f"(aggregate({flat}, CAST(0 AS DOUBLE), "
                         f"(a, x) -> a + CAST(x AS DOUBLE)) / size({flat}))"),
    "min": lambda flat: f"array_min({flat})",
    "max": lambda flat: f"array_max({flat})",
    "count": lambda flat: f"CAST(size({flat}) AS BIGINT)",
    "uniq": lambda flat: f"CAST(size(array_distinct({flat})) AS BIGINT)",
    "uniqexact": lambda flat: (
        f"CAST(size(array_distinct({flat})) AS BIGINT)"),
}


def _try_suffix_combinator(lname: str, targs: list) -> str | None:
    """Generic fooIf(args..., cond) / fooArray(arr) SQL rewrites for
    aggregate bases without a dedicated rule."""
    # -State / -Merge over scalar bases (AggregateFunctionState.h):
    # this engine's state carrier for sum/min/max/any IS the value
    # (those merge by re-applying the base), count's state is the
    # partial count (merge = SUM of partials, never count-of-states),
    # and avg's state is a (sum, count) struct so the merge stays
    # weighted when group sizes differ.
    m = re.fullmatch(r"(avg|sum|min|max|count|anylast|any)"
                     r"(state|merge)", lname)
    if m and targs:
        base, kind = m.groups()
        if base == "avg":
            if kind == "state":
                return (f"named_struct("
                        f"'sum', CAST(sum({targs[0]}) AS DOUBLE), "
                        f"'count', count({targs[0]}))")
            return (f"(sum(({targs[0]}).sum) / "
                    f"sum(({targs[0]}).count))")
        if base == "count":
            if kind == "state":
                return f"count({targs[0]})"
            return f"CAST(sum({targs[0]}) AS BIGINT)"
        fn = {"sum": "sum", "min": "min", "max": "max",
              "any": "any_value", "anylast": "any_value"}[base]
        return f"{fn}({targs[0]})"
    # -OrNull / -OrDefault (optionally stacked under -If):
    # AggregateFunctionOrFill.h — NULL / return-type default when no
    # rows were aggregated
    m = re.fullmatch(r"(avg|sum|min|max|count|stddevsamp|stddevpop|"
                     r"varsamp|varpop|anylast|any)"
                     r"(ornull|ordefault)(if)?", lname)
    if m and targs:
        base, orx, has_if = m.groups()
        spark_fn = {"avg": "avg", "sum": "sum", "min": "min",
                    "max": "max", "count": "count",
                    "any": "any_value", "anylast": "any_value",
                    "stddevsamp": "stddev_samp",
                    "stddevpop": "stddev_pop", "varsamp": "var_samp",
                    "varpop": "var_pop"}[base]
        arg = targs[0] if targs else "1"
        if has_if:
            cond = targs[-1]
            arg = (f"CASE WHEN {cond} THEN "
                   f"{targs[0] if len(targs) > 1 else '1'} END")
        core = f"{spark_fn}({arg})"
        if base == "count" and has_if:
            core = f"count({arg})"
        if orx == "ornull":
            return (core if base != "count"
                    else f"CASE WHEN count({arg}) = 0 THEN NULL "
                         f"ELSE count({arg}) END")
        dflt = _ordefault_default_sql(targs[0] if targs else "", base)
        return f"COALESCE({core}, {dflt})"
    if lname.endswith("if") and len(targs) >= 2:
        base = lname[:-2]
        if base in _IF_BASES and base in _RULES:
            cond = targs[-1]
            wrapped = [f"CASE WHEN {cond} THEN {a} END"
                       for a in targs[:-1]]
            return _RULES[base](wrapped)
    if lname.endswith("array") and targs:
        base = lname[:-5]
        if base in _ARRAY_BASES:
            # multi-array spelling zips corresponding elements into
            # tuples (the -Array combinator requires equal sizes,
            # reference AggregateFunctionCombinatorArray; golden
            # 00533_uniq_array) — uniq/count over the zipped structs
            inner = (targs[0] if len(targs) == 1
                     else f"arrays_zip({', '.join(targs)})")
            flat = f"flatten(collect_list({inner}))"
            if len(targs) == 1 or base in ("uniq", "uniqexact",
                                           "count"):
                return _ARRAY_BASES[base](flat)
    return None


_SPARK_NATIVE_FNS: set | None = None
_BRIDGE_BY_LOWER: dict | None = None
_NUM_LIT_RE = re.compile(r"-?\d+")
_FLOAT_LIT_RE = re.compile(r"-?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?")


def _bridge_registry_call(name: str, targs: list) -> str | None:
    """Generic SQL-name bridge: a CH function that exists in
    CH_FUNCTIONS as a Column builder but has no SQL rewrite rule and is
    not a Spark built-in gets INLINED — build the Column against
    F.expr(arg) inputs and render it back to SQL text through
    Catalyst's Expression.sql().  This makes the whole ~1100-name
    python registry callable from CH-SQL text without hand-writing a
    SQL template per name (reference: every registered function is
    usable in SQL, src/Functions/FunctionFactory.cpp).

    Returns None (leave the call untouched) when the name is unknown,
    Spark resolves it natively, the args carry lambdas, or the builder
    needs conventions F.expr cannot express — the behavior is then
    exactly the pre-bridge behavior."""
    global _SPARK_NATIVE_FNS, _BRIDGE_BY_LOWER
    from pyspark.sql import Column as _Col
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    if _BRIDGE_BY_LOWER is None:
        from clickhouse_core_spark.functions import CH_FUNCTIONS
        _BRIDGE_BY_LOWER = {k.lower(): v for k, v in CH_FUNCTIONS.items()}
    fn = _BRIDGE_BY_LOWER.get(name.lower())
    if fn is None:
        return None
    if _SPARK_NATIVE_FNS is None:
        _SPARK_NATIVE_FNS = {
            r.name.lower() for r in spark.catalog.listFunctions()}
    if name.lower() in _SPARK_NATIVE_FNS:
        return None                    # Spark's own semantics win
    if any("->" in a for a in targs):
        return None                    # lambda args aren't F.expr-able
    try:
        out = fn(*[F.expr(a) for a in targs])
    except Exception:
        # retry with python-literal coercion: many builders take
        # python ints/strings for compile-time parameters (shift
        # widths, type names, format strings)
        def _coerce(t: str):
            t = t.strip()
            if _NUM_LIT_RE.fullmatch(t):
                return int(t)
            if _FLOAT_LIT_RE.fullmatch(t):
                return float(t)
            if len(t) >= 2 and t[0] == "'" and t[-1] == "'":
                return t[1:-1].replace("''", "'").replace("\\'", "'")
            if t.lower().startswith("array(") and t.endswith(")"):
                elems, _after = _parse_args(t, 5)
                vals = [_coerce(e) for e in elems]
                if all(not isinstance(v, _Col) for v in vals):
                    return vals
            return F.expr(t)
        try:
            out = fn(*[_coerce(a) for a in targs])
        except Exception:
            return None
    if not isinstance(out, _Col):
        return None
    try:
        rendered = _fix_lambda_sql(
            spark._jsparkSession.expression(out._jc).sql())
    except Exception:
        return None
    # variant_get's type argument does not survive Expression.sql()
    # (re-parses as plain VARIANT and mismatches downstream); python
    # UDF columns render as the unresolvable `_apply(...)` — leave
    # both to their dedicated rules / SQL registrations
    low = rendered.lower()
    if "variant_get(" in low or "_apply(" in low:
        return None
    return "(" + rendered + ")"


def _fix_lambda_sql(s: str) -> str:
    """Expression.sql() renders higher-order-function lambdas in the
    prefix form ``lambdafunction(body, v1[, v2])`` which the parser
    does not accept — rewrite to the arrow form ``(v1, v2) -> body``.
    Nested lambdas resolve over repeated passes (each pass rewrites one
    outermost site; its body is revisited next iteration)."""
    while True:
        i = s.find("lambdafunction(")
        if i < 0:
            return s
        args, after = _parse_args(s, i + len("lambdafunction"))
        body, vars_ = args[0], [a.strip() for a in args[1:]]
        lam = (f"{vars_[0]} -> ({body})" if len(vars_) == 1
               else f"({', '.join(vars_)}) -> ({body})")
        s = s[:i] + lam + s[after:]


_TUPLE_ARG_FNS = {
    "l1norm", "l2norm", "l2squarednorm", "linfnorm", "lpnorm",
    "l1distance", "l2distance", "l2squareddistance", "linfdistance",
    "lpdistance", "l1normalize", "l2normalize", "linfnormalize",
    "lpnormalize", "cosinedistance", "dotproduct", "scalarproduct",
    # registerAlias spellings (norm*/distance*/normalize* families,
    # reference src/Functions/vectorFunctions.cpp)
    "norml1", "norml2", "norml2squared", "normlinf", "normlp",
    "distancel1", "distancel2", "distancel2squared", "distancelinf",
    "distancelp", "normalizel1", "normalizel2", "normalizelinf",
    "normalizelp",
    "tuplenegate", "tuplehammingdistance", "tupleplus", "tupleminus",
    "tuplemultiply", "tupledivide", "tuplemultiplybynumber",
    "tupledividebynumber", "tupleintdiv", "tupleintdivbynumber",
    "tuplemodulo", "tuplemodulobynumber", "vectorsum",
    "vectordifference", "arraysum", "arrayavg", "arraymin", "arraymax",
}


def _tuple_elems(x: str):
    """Element texts of a tuple-valued (already-translated) expression
    when the arity is statically inferable — paren literals,
    tuple()/struct()/named_struct() calls, array() carriers — else
    None.  This is what lets the vector-math family keep CH's Tuple
    OUTPUT type (struct) instead of the array carrier whenever the
    query text pins the arity (reference
    src/Functions/vectorFunctions.cpp operates on Tuples natively)."""
    s = x.strip()
    while (s.startswith("(") and _matching_paren(s, 0) == len(s) - 1
           and _top_commas_count(s[1:-1]) == 0):
        s = s[1:-1].strip()            # unwrap redundant parens
    if not s:
        return None
    if s.startswith("(") and _matching_paren(s, 0) == len(s) - 1:
        inner = s[1:-1].strip()
        if re.match(r"(?is)^(SELECT|WITH)\b", inner):
            return None
        if _top_commas_count(inner) >= 1:
            return [e.strip() for e in _split_top_commas(inner)]
        return None
    m = re.match(r"([A-Za-z_]\w*)\s*\(", s)
    if m and s.endswith(")") \
            and _matching_paren(s, m.end() - 1) == len(s) - 1:
        f = m.group(1).lower()
        args, _after = _parse_args(s, m.end() - 1)
        args = [a.strip() for a in args]
        if f in ("tuple", "struct", "array"):
            return args or None
        if f == "named_struct":
            return args[1::2] or None
    return None


def _tuple_literal_to_array(x: str) -> str:
    elems = _tuple_elems(x)
    if elems is not None:
        return f"array({', '.join(elems)})"
    return x


# CH divide semantics per element: Float64 out, x/0 -> signed inf
# (0/0 -> nan via 0*inf) — mirrors registry _tuple_divide_elem
def _ch_div_expr(x: str, y: str) -> str:
    return (f"CASE WHEN ({y}) = 0 THEN CAST({x} AS DOUBLE) * "
            f"CAST('Infinity' AS DOUBLE) "
            f"ELSE CAST({x} AS DOUBLE) / ({y}) END")


def _vec_binary_rule(op: str):
    """tuplePlus/Minus/Multiply/Divide: struct output when both args'
    arity is inferable (keeps CH Tuple display/type semantics);
    zip_with over array carriers otherwise."""
    def rule(a):
        le, ri = _tuple_elems(a[0]), _tuple_elems(a[1])
        if le is not None and ri is not None and len(le) == len(ri):
            if op == "/":
                fields = ", ".join(
                    f"'col{i + 1}', {_ch_div_expr(x, y)}"
                    for i, (x, y) in enumerate(zip(le, ri)))
            else:
                fields = ", ".join(
                    f"'col{i + 1}', (({x}) {op} ({y}))"
                    for i, (x, y) in enumerate(zip(le, ri)))
            return f"named_struct({fields})"
        la = _tuple_literal_to_array(a[0])
        ra = _tuple_literal_to_array(a[1])
        if op == "/":
            return (f"zip_with({la}, {ra}, (x, y) -> "
                    f"{_ch_div_expr('x', 'y')})")
        return f"zip_with({la}, {ra}, (x, y) -> x {op} y)"
    return rule


def _vec_bynumber_rule(op: str):
    def rule(a):
        le = _tuple_elems(a[0])
        n = a[1]
        if n.strip().startswith("'") or re.match(
                r"(?is)^\s*CAST\s*\(.*AS\s+STRING\s*\)\s*$", n):
            # tuple ÷ String is ILLEGAL_TYPE_OF_ARGUMENT in the
            # reference's vector-by-number overloads
            raise ValueError(
                f"tuple arithmetic: scalar operand must be numeric, "
                f"got a String (reference ILLEGAL_TYPE_OF_ARGUMENT)")
        if le is not None:
            if op == "/":
                fields = ", ".join(
                    f"'col{i + 1}', {_ch_div_expr(x, n)}"
                    for i, x in enumerate(le))
            else:
                fields = ", ".join(
                    f"'col{i + 1}', (({x}) {op} ({n}))"
                    for i, x in enumerate(le))
            return f"named_struct({fields})"
        la = _tuple_literal_to_array(a[0])
        if op == "/":
            return (f"transform({la}, x -> {_ch_div_expr('x', n)})")
        return f"transform({la}, x -> x {op} ({n}))"
    return rule


def _vec_negate_rule(a):
    le = _tuple_elems(a[0])
    if le is not None:
        fields = ", ".join(f"'col{i + 1}', (-({x}))"
                           for i, x in enumerate(le))
        return f"named_struct({fields})"
    return f"transform({_tuple_literal_to_array(a[0])}, x -> -x)"


_RULES["tupleplus"] = _vec_binary_rule("+")
_RULES["vectorsum"] = _vec_binary_rule("+")
_RULES["tupleminus"] = _vec_binary_rule("-")
_RULES["vectordifference"] = _vec_binary_rule("-")
_RULES["tuplemultiply"] = _vec_binary_rule("*")
_RULES["tupledivide"] = _vec_binary_rule("/")
_RULES["tuplemultiplybynumber"] = _vec_bynumber_rule("*")
_RULES["tupledividebynumber"] = _vec_bynumber_rule("/")
_RULES["tuplenegate"] = _vec_negate_rule


# ---------------- tuple/vector ARITHMETIC OPERATORS over tuple-valued
# expressions: `(1,2) + tupleMultiply((3,4), materialize((5,1)))` etc.
# (reference src/Functions/vectorFunctions.cpp registers +,-,*,/ over
# Tuple via the same implementations).  Raw-text pre-pass: fold each
# binary op whose either operand is provably tuple-valued into the
# named function, then let the rules above emit struct/array SQL.

_TUPLE_RET_RAW = {
    "tuple", "tupleplus", "tupleminus", "tuplemultiply", "tupledivide",
    "tuplenegate", "tuplemultiplybynumber", "tupledividebynumber",
    "tuplemodulo", "tuplemodulobynumber", "tupleintdiv",
    "tupleintdivbynumber", "tupleintdivorzero",
    "tupleintdivorzerobynumber", "vectorsum", "vectordifference",
    "l1normalize", "l2normalize", "linfnormalize", "lpnormalize",
    "normalizel1", "normalizel2", "normalizelinf", "normalizelp",
}
_TUPLE_WRAP_RAW = {"materialize", "tonullable", "identity",
                   "assumenotnull"}

_ARITH_LEFT_KEYWORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "BY", "ON", "IN", "AS",
    "WHEN", "THEN", "ELSE", "HAVING", "PREWHERE", "QUALIFY", "LIMIT",
    "OFFSET", "FROM", "JOIN", "UNION", "ALL", "DISTINCT", "CASE",
    "END", "INTERVAL", "BETWEEN", "LIKE", "ILIKE", "SETTINGS", "USING",
    "ARRAY", "IS", "OVER", "PARTITION", "ORDER", "GROUP", "TOTALS",
    "ROLLUP", "CUBE", "SETS", "FILL", "TO", "STEP", "TIES", "WITH",
}


def _is_tuple_ish(s: str) -> bool:
    s = s.strip()
    while s.startswith("-"):
        s = s[1:].lstrip()
    if not s:
        return False
    if s.startswith("("):
        if _matching_paren(s, 0) != len(s) - 1:
            return False
        inner = s[1:-1].strip()
        if re.match(r"(?is)^(SELECT|WITH)\b", inner):
            return False
        if _top_commas_count(inner) >= 1:
            return True
        return _is_tuple_ish(inner)
    m = re.match(r"([A-Za-z_]\w*)\s*\(", s)
    if m and s.endswith(")") \
            and _matching_paren(s, m.end() - 1) == len(s) - 1:
        f = m.group(1).lower()
        if f in _TUPLE_RET_RAW:
            return True
        if f in _TUPLE_WRAP_RAW:
            args, _after = _parse_args(s, m.end() - 1)
            return bool(args) and _is_tuple_ish(args[0])
    return False


def _primary_right(s: str, i: int):
    """(start, end) span of the primary expression beginning at/after
    index i, or None."""
    n = len(s)
    while i < n and s[i] in " \t\n":
        i += 1
    start = i
    if i < n and s[i] == "-":
        i += 1
        while i < n and s[i] in " \t\n":
            i += 1
    if i >= n:
        return None
    c = s[i]
    if c.isalpha() or c in "_`":
        j = i
        while j < n and (s[j].isalnum() or s[j] in "_`."):
            j += 1
        k = j
        while k < n and s[k] in " \t":
            k += 1
        if k < n and s[k] == "(":
            e = _matching_paren(s, k)
            return (start, e + 1) if e > 0 else None
        return (start, j)
    if c == "(":
        e = _matching_paren(s, i)
        return (start, e + 1) if e > 0 else None
    if c.isdigit() or c == ".":
        j = i
        while j < n and (s[j].isdigit() or s[j] in ".eE"
                         or (s[j] in "+-" and s[j - 1] in "eE")):
            j += 1
        return (start, j)
    if c == "'":
        return (start, _skip_string(s, i))
    return None


def _primary_left(s: str, i: int):
    """(start, end) span of the primary expression ENDING before index
    i (an operator position), or None when the left context is not an
    operand (keyword, opening paren, another operator)."""
    j = i - 1
    while j >= 0 and s[j] in " \t\n":
        j -= 1
    if j < 0:
        return None
    end = j + 1
    if s[j] == ")":
        depth = 0
        o = j
        while o >= 0:
            if s[o] == ")":
                depth += 1
            elif s[o] == "(":
                depth -= 1
                if depth == 0:
                    break
            o -= 1
        if o < 0:
            return None
        k = o - 1
        while k >= 0 and s[k] in " \t":
            k -= 1
        w = k
        while w >= 0 and (s[w].isalnum() or s[w] in "_`"):
            w -= 1
        word = s[w + 1:k + 1]
        if word and word.upper() not in _ARITH_LEFT_KEYWORDS:
            return (w + 1, end)
        return (o, end)
    if s[j].isalnum() or s[j] in "_`.":
        w = j
        while w >= 0 and (s[w].isalnum() or s[w] in "_`."):
            w -= 1
        word = s[w + 1:end]
        if word.upper() in _ARITH_LEFT_KEYWORDS:
            return None
        return (w + 1, end)
    return None


_DT_CALL_RE = re.compile(
    r"(?i)\b(toDateTime(?:64)?|toDate(?:32)?|now|today|yesterday|"
    r"toStartOf\w+|toMonday|toLastDayOf\w+|parseDateTime\w*)\s*\(")


def _rewrite_datetime_arith(sql: str) -> str:
    """``toDateTime(...) + n`` / ``- n`` — CH integer arithmetic on
    temporal values (seconds on DateTime, days on Date; reference
    src/Functions/FunctionDateOrDateTimeAddInterval.h via the plus/
    minus overloads).  Spark rejects timestamp+int, so rewrite the
    syntactically-recognizable call forms."""
    if not _DT_CALL_RE.search(sql):
        return sql

    def seg_fn(seg: str) -> str:
        out = seg
        pos = 0
        while True:
            m = _DT_CALL_RE.search(out, pos)
            if m is None:
                return out
            o = out.index("(", m.start())
            e = _matching_paren(out, o)
            if e < 0:
                pos = m.end()
                continue
            call = out[m.start():e + 1]
            j = e + 1
            while j < len(out) and out[j] in " \t\n":
                j += 1
            if j >= len(out) or out[j] not in "+-":
                pos = e + 1
                continue
            op = out[j]
            r = _primary_right(out, j + 1)
            if r is None:
                pos = e + 1
                continue
            # higher-precedence * / % bind into the addend:
            # `toDate(x) + number % 3` adds (number % 3) days
            rend = r[1]
            while True:
                k2 = rend
                while k2 < len(out) and out[k2] in " \t\n":
                    k2 += 1
                if k2 < len(out) and out[k2] in "*/%":
                    r2 = _primary_right(out, k2 + 1)
                    if r2 is None:
                        break
                    rend = r2[1]
                    continue
                break
            r = (r[0], rend)
            rtxt = out[r[0]:r[1]].strip()
            # leave interval forms / other temporal calls alone
            if re.match(r"(?i)^(INTERVAL\b|toInterval|toDate|"
                        r"toDateTime|now\b|today\b|yesterday\b|')",
                        rtxt) or _DT_CALL_RE.match(rtxt):
                pos = e + 1
                continue
            fname = m.group(1).lower()
            # every Date-RETURNING function adds days (Date + n = n
            # days in the reference's plus/minus overloads); only
            # DateTime-returning ones add seconds
            if fname in ("todate", "todate32", "today", "yesterday",
                         "tostartofmonth", "tostartofweek",
                         "tostartofquarter", "tostartofyear",
                         "tostartofisoyear", "tomonday",
                         "tolastdayofmonth", "tolastdayofweek"):
                fn = "date_add" if op == "+" else "date_sub"
                # date_add rejects BIGINT addends (numbers() columns)
                repl = f"{fn}({call}, CAST({rtxt} AS INT))"
            else:
                repl = (f"({call} {op} make_interval(0, 0, 0, 0, 0, "
                        f"0, {rtxt}))")
            out = out[:m.start()] + repl + out[r[1]:]
            pos = m.start() + len(repl)
    return _sub_nonstring(sql, seg_fn)


def _fix_like_patterns(sql: str) -> str:
    """Backslashes in LIKE patterns: the reference keeps ``\\x`` for a
    non-wildcard x as a literal backslash + x (MatchImpl), while
    Spark's LIKE rejects an escape before anything but %, _ or \\ —
    re-escape those backslashes inside pattern literals."""
    if not re.search(r"(?i)\bI?LIKE\s+'", sql):
        return sql
    out = []
    i, n = 0, len(sql)
    pat = re.compile(r"(?i)\b(NOT\s+)?(I?LIKE)\s+'")
    while i < n:
        m = pat.search(sql, i)
        if m is None:
            out.append(sql[i:])
            break
        qstart = m.end() - 1
        qend = _skip_string(sql, qstart)
        body = sql[qstart + 1:qend - 1]
        # run-based: k TEXT backslashes = k//2 STRING backslashes; an
        # ODD string count before a non-wildcard (or at the end) makes
        # an invalid Spark pattern — escape it (the reference keeps
        # such backslashes literal, MatchImpl)
        fixed_parts = []
        bi, bn = 0, len(body)
        while bi < bn:
            if body[bi] != "\\":
                fixed_parts.append(body[bi])
                bi += 1
                continue
            bj = bi
            while bj < bn and body[bj] == "\\":
                bj += 1
            k = bj - bi
            nxt = body[bj] if bj < bn else ""
            if k % 2 == 0 and (k // 2) % 2 == 1 \
                    and nxt not in ("%", "_", "\\") :
                fixed_parts.append("\\" * (k + 2))
            else:
                fixed_parts.append("\\" * k)
            bi = bj
        fixed = "".join(fixed_parts)
        out.append(sql[i:qstart])
        out.append("'" + fixed + "'")
        i = qend
    return "".join(out)


def _rewrite_map_literals(sql: str) -> str:
    """CH map literals ``{'k': v, ...}`` (ParserMapOfLiterals) ->
    ``map(k, v, ...)``.  Keys must be string/number literals — the
    parameter syntax ``{name:Type}`` (bare identifier key) is left
    alone."""
    if "{" not in sql:
        return sql

    def seg_fn(seg: str) -> str:
        guard = 0
        pos = 0
        while guard < 200:
            guard += 1
            i = seg.find("{", pos)
            if i < 0:
                return seg
            depth, j = 0, i
            while j < len(seg):
                if seg[j] == "{":
                    depth += 1
                elif seg[j] == "}":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= len(seg):
                return seg
            inner = seg[i + 1:j]
            if "{" in inner:
                pos = i + 1            # innermost first
                continue
            if inner.strip() == "":
                seg = seg[:i] + "map()" + seg[j + 1:]
                pos = 0
                continue
            pairs = []
            ok = True
            for it in _split_top_commas(inner):
                d2 = 0
                cpos = -1
                for k2, ch in enumerate(it):
                    if ch in "([":
                        d2 += 1
                    elif ch in ")]":
                        d2 -= 1
                    elif ch == ":" and d2 == 0:
                        cpos = k2
                        break
                if cpos < 0:
                    ok = False
                    break
                key, val = it[:cpos].strip(), it[cpos + 1:].strip()
                if not re.fullmatch(
                        r"\x00\d+\x00|-?\d+(?:\.\d+)?", key):
                    ok = False
                    break
                pairs.append((key, val))
            if not ok:
                pos = j + 1
                continue
            # mixed String/number values (a Variant-valued map in the
            # reference): carry every value as STRING — Spark's map()
            # would otherwise coerce the strings to the numeric side
            has_str = any(re.fullmatch(r"\x00\d+\x00", v.strip())
                          for _, v in pairs)
            has_num = any(re.fullmatch(r"-?\d+(?:\.\d+)?", v.strip())
                          for _, v in pairs)
            if has_str and has_num:
                pairs = [(k, f"CAST({v} AS STRING)") for k, v in pairs]
            # duplicate literal keys: CH Map lookup returns the FIRST
            # match; Spark's map() rejects duplicates — keep the first
            seen_keys: set = set()
            deduped = []
            for k, v in pairs:
                if k.strip() in seen_keys:
                    continue
                seen_keys.add(k.strip())
                deduped.append((k, v))
            repl = "map(" + ", ".join(
                f"{k}, {v}" for k, v in deduped) + ")"
            seg = seg[:i] + repl + seg[j + 1:]
            pos = 0
        return seg

    return _sub_nonstring(sql, seg_fn)


def _rewrite_tuple_arith(sql: str) -> str:
    low = sql.lower()
    if ("tuple" not in low and "vectorsum" not in low
            and "vectordifference" not in low
            and not re.search(r"\([^()]*,[^()]*\)\s*[-+*/]", sql)
            and not re.search(r"[-+*/]\s*\([^()]*,[^()]*\)", sql)
            and not re.search(r"(?i)\bmaterialize\s*\(\s*\(", sql)):
        return sql
    opmap = {"+": "tuplePlus", "-": "tupleMinus",
             "*": "tupleMultiply", "/": "tupleDivide"}

    def seg_fn(seg: str) -> str:
        # unary minus over a tuple-ish primary first
        i = 0
        while i < len(seg):
            c = seg[i]
            if c in "'\"`":
                i = _skip_string(seg, i)
                continue
            if c == "-":
                j = i - 1
                while j >= 0 and seg[j] in " \t\n":
                    j -= 1
                left_unary = j < 0 or seg[j] in "(,=<>+-*/%"
                if not left_unary and (seg[j].isalnum() or seg[j] == "_"):
                    w = j
                    while w >= 0 and (seg[w].isalnum() or seg[w] == "_"):
                        w -= 1
                    left_unary = (seg[w + 1:j + 1].upper()
                                  in _ARITH_LEFT_KEYWORDS)
                if left_unary:
                    r = _primary_right(seg, i + 1)
                    if r:
                        rtxt = seg[r[0]:r[1]]
                        if not rtxt.lstrip().startswith("-") \
                                and _is_tuple_ish(rtxt):
                            repl = f"tupleNegate({rtxt})"
                            seg = seg[:i] + repl + seg[r[1]:]
                            i += len(repl)
                            continue
            i += 1
        # binary passes: * / first (precedence), then + -
        for ops in ("*/", "+-"):
            guard = 0
            changed = True
            while changed and guard < 50:
                changed = False
                guard += 1
                i = 0
                while i < len(seg):
                    c = seg[i]
                    if c in "'\"`":
                        i = _skip_string(seg, i)
                        continue
                    if c in ops:
                        if c == "-" and seg[i + 1:i + 2] in (">", "-"):
                            i += 2
                            continue
                        if c in "+-" and i >= 2 and seg[i - 1] in "eE" \
                                and seg[i - 2].isdigit():
                            i += 1
                            continue
                        lf = _primary_left(seg, i)
                        rt = _primary_right(seg, i + 1)
                        if lf and rt:
                            ltxt = seg[lf[0]:lf[1]]
                            rtxt = seg[rt[0]:rt[1]]
                            lt, rr = (_is_tuple_ish(ltxt),
                                      _is_tuple_ish(rtxt))
                            repl = None
                            if lt and rr:
                                repl = f"{opmap[c]}({ltxt}, {rtxt})"
                            elif (lt or rr) and c in "*/":
                                # tuple × scalar / scalar × tuple →
                                # the ByNumber forms (vectorFunctions
                                # registers both operand orders for *)
                                if lt:
                                    repl = (f"{opmap[c]}ByNumber"
                                            f"({ltxt}, {rtxt})")
                                elif c == "*":
                                    repl = (f"tupleMultiplyByNumber"
                                            f"({rtxt}, {ltxt})")
                            if repl is not None:
                                seg = seg[:lf[0]] + repl + seg[rt[1]:]
                                changed = True
                                i = lf[0] + len(repl)
                                continue
                    i += 1
        return seg

    return _sub_nonstring(sql, seg_fn)


_CLAUSE_STOPWORDS = {
    "select", "where", "when", "then", "else", "and", "or", "from",
    "join", "on", "using", "by", "having", "limit", "offset", "union",
    "all", "distinct", "as", "between", "like", "ilike", "rlike", "is",
    "prewhere", "qualify", "case", "interval", "over",
}


def _translate_expr(sql: str) -> str:
    """Rewrite known CH function calls (recursively) in an expression."""
    out = []
    i = 0
    n = len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"":
            j = _skip_string(sql, i)
            seg = sql[i:j]
            if c == "'" and "\\x" in seg:
                seg = _decode_hex_escapes_in_literal(seg)
            out.append(seg)
            i = j
            continue
        if c == "[":
            if _bracket_is_literal(out):
                elems, after = _split_bracket(sql, i)
                inner = ", ".join(_translate_expr(e.strip()) for e in elems
                                  if e.strip())
                # `x IN [..]` takes a value list, not an array value
                prev_kw = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\s*$", "".join(out))
                if prev_kw and prev_kw.group(1).lower() == "in":
                    out.append(f"({inner})")
                else:
                    out.append(f"array({inner})")
                i = after
                continue
            # subscript position: CH 1-based / negative-from-end
            elems, after = _split_bracket(sql, i)
            idx = _translate_expr(", ".join(e.strip() for e in elems))
            wrapped = _wrap_subscript("".join(out), idx)
            if wrapped is None:
                out.append(sql[i:after])
            else:
                out = [wrapped]
            i = after
            continue
        if c == "." and i + 1 < n and sql[i + 1].isdigit() \
                and "".join(out).rstrip().endswith(")"):
            # positional access on a parenthesized/tuple() expression;
            # a numeric literal can never end with ')'
            k = i + 1
            while k < n and sql[k].isdigit():
                k += 1
            out.append(f".col{sql[i + 1:k]}")
            i = k
            continue
        m = _IDENT.match(sql, i)
        if not m:
            out.append(c)
            i += 1
            continue
        name = m.group(0)
        j = m.end()
        # lookahead for '('
        k = j
        while k < n and sql[k] in " \t":
            k += 1
        if k < n and sql[k] == "(":
            lname = name.lower()
            # a clause keyword before '(' is syntax, not a call head
            # (`SELECT (expr)[i]`, `WHERE (a) AND b`, `GROUP BY (a, b)`)
            if lname in _CLAUSE_STOPWORDS:
                out.append(name)
                i = j
                continue
            args, after = _parse_args(sql, k)
            targs = [_translate_expr(a) for a in args]
            # parametric form f(params)(args)?
            k2 = after
            while k2 < n and sql[k2] in " \t":
                k2 += 1
            _p_base_if = (lname[:-2] if lname.endswith("if")
                          and lname[:-2] in _PARAMETRIC else None)
            if k2 < n and sql[k2] == "(" and (lname in _PARAMETRIC
                                              or _p_base_if):
                args2, after2 = _parse_args(sql, k2)
                targs2 = [_translate_expr(a) for a in args2]
                if lname in _PARAMETRIC:
                    out.append(_PARAMETRIC[lname](targs, targs2))
                else:
                    # generic parametric -If: the LAST argument is the
                    # condition (AggregateFunctionIf.h); every builder
                    # here aggregates via NULL-skipping collectors, so
                    # a NULL-when-false value wrapper filters exactly
                    cond = targs2[-1]
                    vals = [f"(CASE WHEN {cond} THEN {v} END)"
                            for v in targs2[:-1]]
                    out.append(_PARAMETRIC[_p_base_if](targs, vals))
                i = after2
                continue
            # range() is Spark's TVF in FROM position (the numbers()
            # rewrite emits it) but CH's scalar array function in
            # expressions — dispatch on the preceding keyword
            if lname == "range":
                prev = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\s*$",
                                 "".join(out))
                if prev and prev.group(1).lower() in ("from", "join"):
                    out.append(f"{name}({', '.join(targs)})")
                    i = after
                    continue
            # 'in' is both the SQL operator (x IN (...), x NOT IN (...))
            # and a CH functional form in(x, tuple) (src/Functions/
            # in.cpp). Operator position = after an operand or NOT;
            # only rewrite the functional form, which sits in
            # expression position (start / '(' / ',' / an operator).
            if lname == "in":
                prev = "".join(out).rstrip()
                ptok = re.search(r"([A-Za-z_][A-Za-z0-9_]*)$", prev)
                operator_form = bool(prev) and not (
                    prev[-1] in "(,=<>+-*/%|"
                    or (ptok and ptok.group(1).lower() in _EXPR_KEYWORDS))
                if ptok and ptok.group(1).lower() == "not":
                    operator_form = True
                if operator_form:
                    out.append(f"{name} ({', '.join(targs)})")
                    i = after
                    continue
            if lname in _MAPPED_LAMBDA_FNS and len(targs) >= 2 \
                    and "->" in targs[0]:
                targs = ([f"transform({targs[1]}, {targs[0]})"]
                         + targs[2:])
            if lname == "tostartofinterval" and len(args) >= 2:
                # needs the RAW second argument (INTERVAL literal or
                # toIntervalUnit(n) call) — translation would rewrite
                # it into an opaque make_*_interval expression first
                if len(args) >= 3:
                    _validate_tsoi_origin(
                        [x.strip() for x in args])
                out.append(_tostartofinterval_rule(
                    [targs[0]] + [x.strip() for x in args[1:]]))
                i = after
                continue
            if lname in _TUPLE_ARG_FNS:
                if lname in ("lpnorm", "lpdistance", "lpnormalize") \
                        and args and re.match(
                            r"(?is)\s*materialize\s*\(",
                            args[-1].strip()):
                    # the reference requires p to be a LITERAL
                    # constant; materialize() makes it a column
                    raise ValueError(
                        f"{name}: p must be a constant literal "
                        f"(reference ILLEGAL_TYPE_OF_ARGUMENT)")
                if lname in ("lpnorm", "lpdistance", "lpnormalize") \
                        and args:
                    # constant-FUNCTION p values fold to literals
                    # (pi()/e() are constants in the reference's
                    # const-folding; the registry bridge needs a
                    # python float)
                    pfold = {"pi()": repr(__import__("math").pi),
                             "e()": repr(__import__("math").e)}.get(
                        re.sub(r"\s+", "", targs[-1]).lower())
                    if pfold is not None:
                        targs = targs[:-1] + [pfold]
                if lname in ("cosinedistance", "dotproduct",
                             "scalarproduct", "l1distance",
                             "l2distance", "l2squareddistance",
                             "linfdistance", "lpdistance",
                             "tuplehammingdistance") \
                        and len(targs) >= 2:
                    le, ri = (_tuple_elems(targs[0]),
                              _tuple_elems(targs[1]))
                    if le is not None and ri is not None \
                            and len(le) != len(ri):
                        raise ValueError(
                            f"{name}: tuple sizes differ "
                            f"({len(le)} vs {len(ri)}; reference "
                            f"SIZES_OF_ARGUMENTS_DOESNT_MATCH)")
                # CH vector/tuple math accepts TUPLES; the array-based
                # implementations here take arrays — literal paren
                # tuples convert textually (FunctionsVectorMath)
                targs = [_tuple_literal_to_array(x) for x in targs]
            if lname in _RULES:
                out.append(_RULES[lname](targs))
            else:
                combi = _try_suffix_combinator(lname, targs)
                if combi is None:
                    combi = _bridge_registry_call(name, targs)
                out.append(combi if combi is not None
                           else f"{name}({', '.join(targs)})")
            i = after
            continue
        out.append(name)
        i = j
        # CH positional tuple access `t.1` -> `.col1` (decimal literals
        # can't reach here: _IDENT never matches a leading digit)
        while i + 1 < n and sql[i] == "." and sql[i + 1].isdigit():
            k = i + 1
            while k < n and sql[k].isdigit():
                k += 1
            out.append(f".col{sql[i + 1:k]}")
            i = k
    return "".join(out)


def _split_select(body: str) -> tuple[str, str]:
    """Split ``SELECT <proj> FROM <rest>`` at the top-level FROM
    (string- and paren-aware)."""
    u = body.upper()
    assert u.lstrip().startswith("SELECT")
    start = u.index("SELECT") + 6
    depth = 0
    i = start
    while i < len(body):
        c = body[i]
        if c in "'\"":
            i = _skip_string(body, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and u.startswith("FROM", i) and \
                (i + 4 >= len(body) or not body[i + 4].isalnum()):
            return body[start:i].strip(), body[i + 4:].strip()
        i += 1
    raise ValueError("LIMIT BY rewrite: no top-level FROM found")


_FORMAT_RE = re.compile(r"\s+FORMAT\s+\w+(?=\s+SETTINGS\b|\s*;?\s*$)",
                        re.IGNORECASE)
_SETTINGS_RE = re.compile(r"\s+SETTINGS\s+[\w]+\s*=\s*[^,;()]+(\s*,\s*[\w]+\s*=\s*[^,;()]+)*\s*;?\s*$",
                          re.IGNORECASE)


def _top_level_set(sql: str) -> set[int]:
    """Indices of characters at paren depth 0 and outside strings."""
    tops: set[int] = set()
    i, depth, n = 0, 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"":
            i = _skip_string(sql, i)
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            tops.add(i)
        i += 1
    return tops


# ---------------------------------------------------- CH SELECT clauses
# FINAL / SAMPLE / ARRAY JOIN / WITH TOTALS / LIMIT BY are core CH SELECT
# grammar (reference src/Parsers/ParserSelectQuery.h:10); each rewrites
# to a Spark-SQL equivalent that reaches the same operators the
# DataFrame API uses.

_FINAL_RE = re.compile(
    r"\bFROM\s+(`?\w+`?)((?:\s+AS)?\s+(?!FINAL\b|SAMPLE\b)\w+)?\s+FINAL\b",
    re.IGNORECASE)


def _rewrite_final(sql: str) -> str:
    """``FROM t [alias] FINAL`` -> ``FROM t__final [alias]``.

    Convention: ``t__final`` is a registered view carrying the engine's
    merge semantics (see :func:`register_mergetree_sql`, which registers
    both views from a MergeTreeTable or raw DataFrame)."""
    return _FINAL_RE.sub(
        lambda m: f"FROM {m.group(1).strip('`')}__final{m.group(2) or ''}", sql)


_SAMPLE_RE = re.compile(
    r"\bFROM\s+(`?\w+`?)((?:\s+AS)?\s+(?!SAMPLE\b)\w+)?"
    r"\s+SAMPLE\s+([0-9.]+(?:\s*/\s*[0-9.]+)?)"
    r"(?:\s+OFFSET\s+([0-9.]+(?:\s*/\s*[0-9.]+)?))?",
    re.IGNORECASE)

# Knuth multiplicative hash: deterministic, and expressible identically
# in Spark SQL and DuckDB (unlike xxhash64), so SAMPLE stays oracle-able.
_SAMPLE_MULT = 2654435761
_SAMPLE_MOD = 1 << 32


def _rewrite_sample(sql: str, sample_by: dict[str, str] | None) -> str:
    """``FROM t SAMPLE f [OFFSET o]`` -> deterministic hash-range filter
    on the table's declared sampling key (CH reads the key from the DDL
    ``SAMPLE BY`` clause; here it arrives via ``sample_by={'t': 'expr'}``).

    Row-selection: key belongs to the sample when
    ``(key * 2654435761) % 2^32`` falls in ``[o*2^32, (o+f)*2^32)`` — the
    same subset every run, on both engines."""
    def _frac(txt: str | None) -> float:
        if not txt:
            return 0.0
        if "/" in txt:
            num, den = txt.split("/", 1)
            return float(num) / float(den)
        return float(txt)

    def sub(m: re.Match) -> str:
        t = m.group(1).strip("`")
        alias = (m.group(2) or "").strip() or t
        frac = _frac(m.group(3))
        off = _frac(m.group(4))
        if frac > 1.0:
            raise ValueError(
                f"SAMPLE {m.group(3)}: row-count samples are not supported; "
                "use a fraction in (0, 1]")
        if not sample_by or t not in sample_by:
            raise ValueError(
                f"SAMPLE over table '{t}' needs its sampling key: pass "
                "sample_by={'%s': '<column expr>'} (the CH DDL SAMPLE BY "
                "clause analog)" % t)
        key = sample_by[t]
        lo = int(off * _SAMPLE_MOD)
        hi = int(min(off + frac, 1.0) * _SAMPLE_MOD)
        cond = (f"pmod(CAST({key} AS BIGINT) * {_SAMPLE_MULT}, "
                f"{_SAMPLE_MOD}) >= {lo} AND "
                f"pmod(CAST({key} AS BIGINT) * {_SAMPLE_MULT}, "
                f"{_SAMPLE_MOD}) < {hi}")
        return f"FROM (SELECT * FROM {t} WHERE {cond}) {alias}"
    return _SAMPLE_RE.sub(sub, sql)


_ARRAY_JOIN_RE = re.compile(r"\b(LEFT\s+)?ARRAY\s+JOIN\s+", re.IGNORECASE)
_CLAUSE_STOP_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION|INTERSECT|EXCEPT"
    r"|(?:INNER|LEFT|RIGHT|FULL|CROSS|SEMI|ANTI)\s+JOIN|JOIN)\b",
    re.IGNORECASE)


def _split_top_commas(s: str) -> list[str]:
    parts, start, i, depth, n = [], 0, 0, 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            i = _skip_string(s, i)
            continue
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _rewrite_array_join(sql: str) -> str:
    """``[LEFT] ARRAY JOIN arr1 [AS a1][, arr2 AS a2 ...]`` ->
    ``LATERAL VIEW [OUTER] posexplode(arr1)`` plus positional
    ``element_at`` lookups for the remaining arrays (CH iterates multiple
    arrays in lockstep, not as a cross product — reference
    src/Interpreters/ArrayJoinAction.h).

    Element naming follows CH scoping: the first item's alias becomes
    the lateral-view output column directly; for the implicit form
    (``ARRAY JOIN arr`` — the element takes the array's own name) the
    source column is renamed away in a ``SELECT * EXCEPT`` subquery so
    the element name resolves unambiguously; later lockstep items are
    substituted as ``element_at(arr_i, pos + 1)`` references."""
    tops = _top_level_set(sql)
    m = next((mm for mm in _ARRAY_JOIN_RE.finditer(sql)
              if mm.start() in tops), None)
    if m is None:
        return sql
    outer = bool(m.group(1))
    stop = next((mm for mm in _CLAUSE_STOP_RE.finditer(sql, m.end())
                 if mm.start() in tops), None)
    end = stop.start() if stop else len(sql)
    # a CHAINED `... ARRAY JOIN a AS x ARRAY JOIN x AS y` rewrites one
    # clause per pass (the recursion below picks up the rest)
    nxt = next((mm for mm in _ARRAY_JOIN_RE.finditer(sql, m.end())
                if mm.start() in tops and mm.start() < end), None)
    chained = nxt is not None
    if chained:
        end = nxt.start()
    items = _split_top_commas(sql[m.end():end])
    prefix, suffix = sql[:m.start()], sql[end:]

    def _select_alias_def(name: str):
        """(expr, item_start, item_end) of a top-level SELECT item
        ``expr AS name`` in the prefix, else None — ARRAY JOIN over a
        SELECT alias resolves against the projection (reference
        QueryAnalyzer; golden 02374)."""
        pm = re.search(r"^(\s*(?:WITH\b.*?)??\s*SELECT\s+)(.*)$",
                       prefix, re.IGNORECASE | re.DOTALL)
        if pm is None:
            return None
        head2, proj2 = pm.group(1), pm.group(2)
        fms = [mm for mm in re.finditer(r"\bFROM\b", proj2,
                                        re.IGNORECASE)
               if mm.start() in _top_level_set(proj2)]
        if not fms:
            return None
        body = proj2[:fms[-1].start()]
        off = len(head2)
        pos2 = 0
        for it2 in _split_top_commas(body):
            am2 = re.search(rf"^(.*\S)\s+AS\s+`?{re.escape(name)}`?"
                            rf"\s*$", it2, re.IGNORECASE | re.DOTALL)
            st = body.index(it2, pos2)
            pos2 = st + len(it2)
            if am2:
                return (am2.group(1).strip(), off + st,
                        off + st + len(it2))
        return None

    parsed = []   # (expr, alias, implicit)
    for k_i, item in enumerate(items):
        am = re.search(r"^(.*?)\s+AS\s+(`[^`]+`|\w+)\s*$", item,
                       re.IGNORECASE | re.DOTALL)
        expr = (am.group(1) if am else item).strip()
        if am and re.fullmatch(r"\w+", expr):
            # `ARRAY JOIN sel_alias AS elem`: the alias names the
            # ARRAY — substitute its defining expression
            d = _select_alias_def(expr)
            if d is not None:
                expr = f"({d[0]})"
        alias = am.group(2).strip("`") if am else (
            expr if re.fullmatch(r"\w+", expr) else
            # backticked dotted Nested member (`n.a`) keeps its
            # literal name — the element shadows the array column
            expr.strip("`") if re.fullmatch(r"`[^`]+`", expr) else
            # qualified `t.arr` takes the column's own name,
            # like the reference's unaliased ARRAY JOIN
            (expr.rsplit(".", 1)[1]
             if re.fullmatch(r"\w+\.\w+", expr) else None))
        if am is None and alias is not None \
                and re.fullmatch(r"\w+", expr):
            # `ARRAY JOIN sel_alias`: the element takes the alias
            # name and the projection item becomes the element —
            # rewrite the SELECT item to the bare name (02374)
            d = _select_alias_def(expr)
            if d is not None:
                prefix = (prefix[:d[1]] + alias + prefix[d[2]:])
                parsed.append((f"({d[0]})", alias, False))
                continue
        if alias is None:
            # expression item never referenced by name (reference
            # allows alias-less expression ARRAY JOIN — 02374
            # `ARRAY JOIN arrayMap(...)`): synthesize one
            alias = f"__ajx{k_i}"
            parsed.append((expr, alias, False))
            continue
        parsed.append((expr, alias, am is None))

    join_follows = bool(
        re.match(r"(?i)\s*((INNER|LEFT|RIGHT|FULL|CROSS|SEMI|ANTI)\s+)?"
                 r"JOIN\b", suffix))
    hidden: list[str] = []
    sub_q = None
    implicit = [(i, e) for i, (e, a, imp) in enumerate(parsed) if imp]
    if implicit:
        # rename each implicitly-joined array column out of the way so
        # the element can take its name: FROM t -> FROM (SELECT *
        # EXCEPT (arr), arr AS __ajsrcN FROM t) t.  The source may be
        # a bare table or a parenthesized subquery (with alias).
        fm = None
        for mm in re.finditer(r"\bFROM\s+(`?\w+`?)((?:\s+AS)?\s+\w+)?\s*$",
                              prefix, re.IGNORECASE):
            fm = mm
        if fm is not None:
            table = fm.group(1).strip("`")
            tail_alias = (fm.group(2) or "").strip() or table
            src = table
            from_start = fm.start()
        else:
            fm2 = None
            for mm in re.finditer(r"\bFROM\b", prefix, re.IGNORECASE):
                if mm.start() in _top_level_set(prefix):
                    fm2 = mm
            src_text = prefix[fm2.end():].strip() if fm2 else ""
            am = re.fullmatch(r"(?s)(\(.*\))\s*(?:AS\s+)?(`?\w+`?)?",
                              src_text) if src_text.startswith("(") \
                else None
            if am is None:
                # multi-table FROM (e.g. `... JOIN r ... ARRAY JOIN
                # r.a` — golden 03044): no source rename is possible;
                # run the items as explicit lateral views (the element
                # takes the column name; the qualified array stays
                # reachable)
                implicit = []
                parsed = [(e, a, False) for (e, a, _) in parsed]
            else:
                src = am.group(1)
                tail_alias = (am.group(2) or "").strip("`") or "__ajsub"
                from_start = fm2.start()
    if implicit:
        cols = [e for _, e in implicit]
        renames = {e: f"__ajsrc{i}" for i, e in implicit}
        hidden.extend(renames.values())
        sub_q = (f"(SELECT * EXCEPT ({', '.join(cols)}), "
                 + ", ".join(f"{c} AS {renames[c]}" for c in cols)
                 + f" FROM {src}) {tail_alias}")
        prefix = prefix[:from_start] + "FROM " + sub_q
        parsed = [(renames.get(e, e) if imp else e, a, imp)
                  for (e, a, imp) in parsed]
        # table-qualified references to the ORIGINAL array resolve to
        # the ELEMENT, same as the bare name — the analyzer consumes
        # the array column under its own name (QueryAnalyzer ARRAY
        # JOIN scoping; golden 02374 `test_table.value_array` → 1..6)
        for _, e in implicit:
            qpat = re.compile(
                rf"(?<![\w.`])`?{re.escape(tail_alias)}`?"
                rf"\s*\.\s*`?{re.escape(e)}`?(?!\w)")
            prefix = qpat.sub(e, prefix)
            suffix = qpat.sub(e, suffix)

    first_expr, first_alias, _ = parsed[0]
    # LATERAL VIEW's AS identifier list takes backticks LITERALLY —
    # dotted element names (Nested members) need a synthetic alias
    # plus reference substitution
    lat_name = "__ajv0" if "." in first_alias else first_alias
    lateral = (f" LATERAL VIEW {'OUTER ' if outer else ''}"
               f"posexplode({first_expr}) __aj AS __ajp, "
               f"{lat_name} ")

    subs = ([(first_alias, lat_name)] if lat_name != first_alias
            else [])
    subs += [(a, f"element_at({e}, __ajp + 1)") for e, a, _ in parsed[1:]]
    if subs:
        # keep output names: a bare projection item `y` must become
        # `element_at(...) AS y`, so mark the AS occurrence with a
        # placeholder the substitution pass can't touch
        proj_m = re.search(r"^(\s*SELECT\s+)(.*)$", prefix,
                           re.IGNORECASE | re.DOTALL)
        head, proj = proj_m.group(1), proj_m.group(2)
        fm2 = list(re.finditer(r"\bFROM\b", proj, re.IGNORECASE))[-1]
        proj_body, from_rest = proj[:fm2.start()], proj[fm2.start():]
        fixed = []
        for it in _split_top_commas(proj_body):
            for k, (a, _) in enumerate(subs):
                if it == a or it.strip().strip("`") == a:
                    it = f"{a} AS \x00{k}\x00"
                    break
            fixed.append(it)
        prefix = head + ", ".join(fixed) + " " + from_rest

        def apply_subs(text: str) -> str:
            # the generated rename subquery names the ORIGINAL columns
            # (EXCEPT list, `x` AS __ajsrcN) — shield it from the
            # element substitution
            tok = "\x03__ajsubq__\x03"
            prot = sub_q if sub_q and sub_q in text else None
            if prot:
                text = text.replace(prot, tok)
            for a, repl in subs:
                # bare AND backticked (`n.b` — Nested member) uses
                text = re.sub(
                    rf"`{re.escape(a)}`|(?<![\w.`]){re.escape(a)}\b",
                    repl.replace("\\", "\\\\"), text)
            for k, (a, _) in enumerate(subs):
                text = text.replace(
                    f"\x00{k}\x00", f"`{a}`" if "." in a else a)
            if prot:
                text = text.replace(tok, prot)
            return text
        prefix, suffix = apply_subs(prefix), apply_subs(suffix)

    if join_follows:
        # Spark lateral views cannot precede joins — wrap the exploded
        # relation in a subquery so the JOIN applies to the expansion:
        # SELECT P FROM F ARRAY JOIN a JOIN t ...
        #   -> SELECT P FROM (SELECT * FROM F <lateral>) __ajq JOIN t ...
        proj, rest = _split_select(prefix)
        inner_star = f"* EXCEPT (__ajp{''.join(', ' + h for h in hidden)})"
        result = (f"SELECT {proj} FROM (SELECT {inner_star} FROM {rest} "
                  f"{lateral}) __ajq {suffix}")
    else:
        result = prefix + lateral + suffix
    return _rewrite_array_join(result) if chained else result


_TOTALS_RE = re.compile(
    r"\bGROUP\s+BY\s+(.*?)\s+WITH\s+TOTALS\b", re.IGNORECASE | re.DOTALL)

# When on (display harnesses only — never the oracle path), the
# flattened WITH TOTALS rewrite appends a boolean `__ch_totals__`
# marker column so a renderer can split the grand-total row into the
# reference client's separate blank-line-delimited totals block.
RENDER_TOTALS_MARKER = [False]


def _rewrite_with_totals(sql: str) -> str:
    """``GROUP BY k... WITH TOTALS`` -> ``GROUP BY GROUPING SETS
    ((k...), ())``: the per-group rows plus one grand-total row (CH
    emits the totals in a separate block; the NULL-keyed extra row is
    the flattened-relational equivalent)."""
    tops = _top_level_set(sql)
    m = next((mm for mm in _TOTALS_RE.finditer(sql)
              if mm.start() in tops), None)
    if m is None:
        return sql
    keys = m.group(1).strip()
    # WITH CUBE/ROLLUP WITH TOTALS (ParserSelectQuery group_by_with_*
    # flags combine): keep the modifier, add the extra grand-total row
    # CH emits as the totals block via an appended empty grouping set
    mod = re.search(r"\s+WITH\s+(CUBE|ROLLUP)\s*$", keys, re.IGNORECASE)
    fnform = re.fullmatch(r"(?is)(ROLLUP|CUBE)\s*\((.*)\)", keys)
    if mod or fnform:
        if mod:
            bare = keys[:mod.start()].strip()
            kind = mod.group(1).upper()
        else:
            # function-style GROUP BY ROLLUP(a, b) WITH TOTALS
            # (ParserSelectQuery; 02343 grouping-sets corpus)
            bare = fnform.group(2).strip()
            kind = fnform.group(1).upper()
        cols = [k.strip() for k in _split_top_commas(bare)]
        if kind == "ROLLUP":
            sets = [f"({', '.join(cols[:i])})"
                    for i in range(len(cols), -1, -1)]
        else:
            sets = [f"({', '.join(c for j, c in enumerate(cols) if mask & (1 << j))})"
                    for mask in range((1 << len(cols)) - 1, -1, -1)]
        sets.append("()")  # the TOTALS row, on top of the modifier's own
        return (sql[:m.start()]
                + f"GROUP BY GROUPING SETS ({', '.join(sets)})"
                + sql[m.end():])
    out = (sql[:m.start()]
           + f"GROUP BY GROUPING SETS (({keys}), ())"
           + sql[m.end():])
    if RENDER_TOTALS_MARKER[0]:
        # append the marker to the top-level select list (just before
        # the top-level FROM that precedes the GROUP BY)
        n_keys = len(_split_top_commas(keys))
        tops2 = _top_level_set(out)
        at = None
        for fm in re.finditer(r"(?i)\bFROM\b", out[:m.start()]):
            if fm.start() in tops2:
                at = fm.start()
        if at is None:
            # FROM-less SELECT: the list ends at the first top-level
            # clause keyword (WHERE) or at the GROUP BY itself
            at = next((fm.start() for fm in
                       re.finditer(r"(?i)\bWHERE\b", out[:m.start()])
                       if fm.start() in tops2), m.start())
        marker = (f", (grouping_id() = {(1 << n_keys) - 1}) "
                  f"AS __ch_totals__ ")
        out = out[:at] + marker + out[at:]
    return out


_PREWHERE_RE = re.compile(r"\bPREWHERE\b", re.IGNORECASE)
_PREWHERE_STOP_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT|UNION"
    r"|INTERSECT|EXCEPT)\b", re.IGNORECASE)


def _rewrite_prewhere(sql: str) -> str:
    """``PREWHERE pre [WHERE cond]`` -> ``WHERE (pre) [AND (cond)]``.

    PREWHERE is a scan-time filter hint (reference
    src/Parsers/ParserSelectQuery.h:10, evaluated early by
    src/Storages/MergeTree/MergeTreeWhereOptimizer.h) — Spark's
    predicate pushdown gives WHERE the same scan-time placement, so the
    clauses merge.  Top-level only (subquery PREWHERE is out of scope).
    """
    tops = _top_level_set(sql)
    m = next((mm for mm in _PREWHERE_RE.finditer(sql)
              if mm.start() in tops), None)
    if m is None:
        return sql
    stop = next((sm for sm in _PREWHERE_STOP_RE.finditer(sql, m.end())
                 if sm.start() in tops), None)
    if stop is not None and stop.group(1).upper() == "WHERE":
        pre = sql[m.end():stop.start()].strip()
        wend = next((sm for sm in _PREWHERE_STOP_RE.finditer(sql, stop.end())
                     if sm.start() in tops), None)
        end = wend.start() if wend else len(sql)
        cond = sql[stop.end():end].strip()
        return (sql[:m.start()] + f"WHERE ({pre}) AND ({cond}) "
                + sql[end:])
    end = stop.start() if stop else len(sql)
    pre = sql[m.end():end].strip()
    return sql[:m.start()] + f"WHERE ({pre}) " + sql[end:]


_LIMIT_OFFSET_FORM_RE = re.compile(
    r"\bLIMIT\s+(\d+)\s*,\s*(\d+)(?!\s*BY\b)", re.IGNORECASE)
_COLLATE_RE = re.compile(r"\s+COLLATE\s+'[^']*'", re.IGNORECASE)
_HEXBIN_LIT_RE = re.compile(r"\b0x([0-9A-Fa-f]+)\b|\b0b([01]+)\b")
_DISTINCT_ON_RE = re.compile(r"\bSELECT\s+DISTINCT\s+ON\s*\(",
                             re.IGNORECASE)
_TRAILING_LIMIT_RE = re.compile(
    r"\bLIMIT\s+\d+(\s+OFFSET\s+\d+)?\s*;?\s*$", re.IGNORECASE)


def _rewrite_small_forms(sql: str) -> str:
    """MySQL-style ``LIMIT offset, count`` (ParserSelectQuery limit_
    offset form), ``COLLATE 'x'`` (dropped: binary collation — the
    approximation is documented), and 0x/0b integer literals
    (ParserLiteral), none of which Spark's parser accepts."""
    # one string-aware walk for ALL three forms — regex-substituting the
    # whole text first would corrupt the patterns inside string literals
    # (e.g. WHERE s = 'LIMIT 1, 2')
    out, i = [], 0
    while i < len(sql):
        c = sql[i]
        # MySQL-style b'bits' / x'hex' STRING literals (ParserLiteral):
        # decode to bytes (left-padded to whole bytes) and carry as
        # CAST(unhex(...) AS STRING) — CH types these as String
        if c in "bBxX" and i + 1 < len(sql) and sql[i + 1] == "'" \
                and not (out and re.search(r"[\w`]$", out[-1])):
            j = _skip_string(sql, i + 1)
            body = sql[i + 2:j - 1]
            try:
                if c in "bB":
                    if not re.fullmatch(r"[01]*", body):
                        raise ValueError
                    nbytes = (len(body) + 7) // 8
                    hx = (int(body, 2).to_bytes(nbytes, "big").hex()
                          if body else "")
                else:
                    if not re.fullmatch(r"[0-9A-Fa-f]*", body):
                        raise ValueError
                    hx = body.lower()
                    if len(hx) % 2:
                        hx = "0" + hx
                out.append(f"CAST(unhex('{hx}') AS STRING)")
                i = j
                continue
            except ValueError:
                pass
        if c in "'\"":
            j = _skip_string(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        # COLLATE handled upstream via collate(expr, 'locale')
        m = _LIMIT_OFFSET_FORM_RE.match(sql, i)
        if m:
            out.append(f"LIMIT {m.group(2)} OFFSET {m.group(1)}")
            i = m.end()
            continue
        m = _HEXBIN_LIT_RE.match(sql, i)
        if m:
            out.append(str(int(m.group(1), 16) if m.group(1)
                           else int(m.group(2), 2)))
            i = m.end()
            continue
        out.append(c)
        i += 1
    return "".join(out)


_DQ_IDENT_SHAPE = re.compile(r"[A-Za-z_][A-Za-z0-9_ ]*")


def _rewrite_double_quoted_idents(sql: str) -> str:
    """CH treats double quotes as identifier quoting (ANSI;
    src/Parsers/parseIdentifierOrStringLiteral.cpp) while Spark's
    default parser reads them as string literals — convert
    identifier-shaped "name" segments to backticks."""
    out, i = [], 0
    while i < len(sql):
        c = sql[i]
        if c == "'":
            j = _skip_string(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        if c == '"':
            j = _skip_string(sql, i)
            body = sql[i + 1:j - 1]
            if _DQ_IDENT_SHAPE.fullmatch(body):
                out.append(f"`{body}`")
            else:
                out.append(sql[i:j])
            i = j
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _rewrite_distinct_on(sql: str) -> str:
    """``SELECT DISTINCT ON (keys) ...`` (reference ParserSelectQuery
    distinct_on) — documented equivalent of ``LIMIT 1 BY keys``, so it
    lowers onto the same ranked rewrite."""
    tops = _top_level_set(sql)
    m = next((mm for mm in _DISTINCT_ON_RE.finditer(sql)
              if mm.start() in tops), None)
    if m is None:
        return sql
    cols, after = _parse_args(sql, m.end() - 1)
    body = sql[:m.start()] + "SELECT " + sql[after:].lstrip()
    clause = f" LIMIT 1 BY {', '.join(cols)}"
    tm = next((mm for mm in _TRAILING_LIMIT_RE.finditer(body)
               if mm.start() in _top_level_set(body)), None)
    if tm:
        return body[:tm.start()].rstrip() + clause + " " + tm.group(0)
    return body.rstrip().rstrip(";") + clause


def _rewrite_null_coalesce_op(sql: str) -> str:
    """CH ``x ?? y`` null-coalescing operator (ExpressionListParsers
    ``??``) -> coalesce(x, y), using the ternary boundary rules."""
    while True:
        i = 0
        pos = None
        while i < len(sql) - 1:
            c = sql[i]
            if c in "'\"":
                i = _skip_string(sql, i)
                continue
            if c == "?" and sql[i + 1] == "?":
                pos = i
                break
            i += 1
        if pos is None:
            return sql
        left_start = _expr_left_boundary(sql, pos)
        right_end = _expr_right_boundary(sql, pos + 2)
        left = sql[left_start:pos].strip()
        right = sql[pos + 2:right_end].strip()
        sql = (sql[:left_start] + f" coalesce({left}, {right}) "
               + sql[right_end:])


_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_QUALIFY_STOP_RE = re.compile(
    r"\b(ORDER\s+BY|LIMIT|UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE)


def _rewrite_qualify(sql: str) -> str:
    """``SELECT ... QUALIFY pred`` -> ``SELECT * FROM (SELECT ...)
    WHERE pred``: post-window filtering (reference QUALIFY clause,
    src/Parsers/ParserSelectQuery.h:10).  The predicate must reference
    window results by their projection alias (the wrapped subquery
    exposes aliases, not window expressions)."""
    tops = _top_level_set(sql)
    m = next((mm for mm in _QUALIFY_RE.finditer(sql)
              if mm.start() in tops), None)
    if m is None:
        return sql
    stop = next((sm for sm in _QUALIFY_STOP_RE.finditer(sql, m.end())
                 if sm.start() in tops), None)
    end = stop.start() if stop else len(sql)
    pred = sql[m.end():end].strip()
    body = sql[:m.start()].strip()
    tail = sql[end:]
    return f"SELECT * FROM ({body}) WHERE {pred} {tail}"


_LIMIT_BY_START_RE = re.compile(r"\bLIMIT\s+(\d+)\s+BY\b", re.IGNORECASE)
_PLAIN_LIMIT_RE = re.compile(
    r"\bLIMIT\s+\d+(\s+OFFSET\s+\d+)?\s*;?\s*$", re.IGNORECASE)


def _match_limit_by(sql: str):
    """Locate a top-level ``LIMIT n BY <exprs>``; the BY list may contain
    function calls — it runs to the trailing plain LIMIT (if any) or the
    end of the query.  Returns (body, n, cols, tail) or None."""
    tops = _top_level_set(sql)
    m = next((mm for mm in _LIMIT_BY_START_RE.finditer(sql)
              if mm.start() in tops), None)
    if m is None:
        return None
    rest = sql[m.end():]
    tm = next((mm for mm in _PLAIN_LIMIT_RE.finditer(rest)
               if (mm.start() + m.end()) in tops), None)
    cols = (rest[:tm.start()] if tm else rest).strip().rstrip(";").strip()
    tail = " " + tm.group(0).rstrip("; \t\n") if tm else ""
    return sql[:m.start()].rstrip(), m.group(1), cols, tail


# Date-converter preimage rewrite (reference
# src/Analyzer/Passes/OptimizeDateOrDateTimeConverterWithPreimagePass.cpp):
# toYear(x) = 1995 -> x in ['1995-01-01', '1996-01-01'), which Parquet
# min/max stats and partition pruning can use — year(x) = 1995 cannot
# be pushed below the scan.
_PREIMAGE_RE = re.compile(
    r"\b(?:toYear|year)\s*\(\s*([A-Za-z_][\w.]*)\s*\)\s*(=|==|<=|>=|<|>|!=|<>)\s*(\d{4})\b",
    re.IGNORECASE)


def _preimage_sub(m: re.Match) -> str:
    col, op, y = m.group(1), m.group(2), int(m.group(3))
    lo = f"TIMESTAMP '{y}-01-01 00:00:00'"
    hi = f"TIMESTAMP '{y + 1}-01-01 00:00:00'"
    if op in ("=", "=="):
        return f"({col} >= {lo} AND {col} < {hi})"
    if op in ("!=", "<>"):
        return f"({col} < {lo} OR {col} >= {hi})"
    if op == "<":
        return f"{col} < {lo}"
    if op == "<=":
        return f"{col} < {hi}"
    if op == ">":
        return f"{col} >= {hi}"
    if op == ">=":
        return f"{col} >= {lo}"
    return m.group(0)


def apply_date_preimage(sql: str) -> str:
    return _PREIMAGE_RE.sub(_preimage_sub, sql)


_NUMBERS_TVF_RE = re.compile(
    r"\bnumbers(?:_mt)?\(\s*(\d+(?:\.\d*)?(?:[eE]\+?\d+)?)\s*"
    r"(?:,\s*(\d+(?:\.\d*)?(?:[eE]\+?\d+)?)\s*)?\)", re.IGNORECASE)
_GENSERIES_TVF_RE = re.compile(
    r"\bgenerate_series\(\s*(-?\d+)\s*,\s*(-?\d+)\s*(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE)


# CH type names appearing in CAST(x AS T) / x::T — mapped to Spark SQL
# type names (FunctionsConversion.h type registry)
_CH_CAST_TYPES = {
    "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT",
    "int64": "BIGINT", "uint8": "SMALLINT", "uint16": "INT",
    "uint32": "BIGINT", "uint64": "DECIMAL(20,0)", "float32": "FLOAT",
    "float64": "DOUBLE", "bfloat16": "FLOAT", "string": "STRING",
    # 128/256-bit ints carry as DECIMAL(38,0): exact within ±10^38-1,
    # values beyond Spark's decimal ceiling overflow to NULL
    # (documented bound, LIMITS.md)
    "int128": "DECIMAL(38,0)", "int256": "DECIMAL(38,0)",
    "uint128": "DECIMAL(38,0)", "uint256": "DECIMAL(38,0)",
    "date": "DATE", "date32": "DATE", "datetime": "TIMESTAMP",
    "datetime64": "TIMESTAMP", "bool": "BOOLEAN", "uuid": "STRING",
    # IP types carry their canonical text form here (the reference
    # stores UInt32/FixedString(16) and renders on output; validation
    # via toIPv4OrNull/toIPv6OrNull)
    "ipv4": "STRING", "ipv6": "STRING",
    # MySQL CAST aliases (reference registerTypeMySQL /
    # DataTypeFactory mysql compatibility names — golden 02969):
    # CHAR→String, SIGNED→Int64, UNSIGNED→UInt64, YEAR→UInt16
    "char": "STRING", "signed": "BIGINT",
    "unsigned": "DECIMAL(20,0)", "year": "INT",
}
_CAST_TYPE_RE = re.compile(
    r"(\bAS\s+)(" + "|".join(_CH_CAST_TYPES) + r")\b(\s*\))",
    re.IGNORECASE)
_COLONCOLON_TYPE_RE = re.compile(
    r"::\s*(" + "|".join(_CH_CAST_TYPES) + r")\b", re.IGNORECASE)


_TERNARY_STOP_KW = {
    "select", "from", "where", "and", "or", "then", "else", "when",
    "group", "order", "having", "limit", "union", "as", "on", "by",
    "qualify", "settings", "prewhere", "end", "distinct",
}


def _expr_left_boundary(sql: str, pos: int) -> int:
    """Start index of the expression ending just before ``pos``: walk
    left to a same-depth comma/open-paren/clause keyword."""
    depth = 0
    j = pos - 1
    while j >= 0:
        c = sql[j]
        if c in "'\"":  # walk back over the string literal
            k = j - 1
            while k >= 0 and sql[k] != c:
                k -= 1
            j = k - 1
            continue
        if c in ")]":
            depth += 1
        elif c in "([":
            if depth == 0:
                return j + 1
            depth -= 1
        elif c == "," and depth == 0:
            return j + 1
        elif c == ">" and j > 0 and sql[j - 1] == "-" and depth == 0:
            # a lambda arrow bounds the expression: the lambda BODY
            # starts after '->' (golden 00606 `x -> c ? a : b`)
            return j + 1
        elif c.isalpha() or c == "_":
            k = j
            while k >= 0 and (sql[k].isalnum() or sql[k] == "_"):
                k -= 1
            word = sql[k + 1:j + 1].lower()
            if depth == 0 and word in _TERNARY_STOP_KW:
                return j + 1
            j = k
            continue
        j -= 1
    return 0


def _expr_right_boundary(sql: str, pos: int) -> int:
    """End index (exclusive) of the expression starting at ``pos``:
    walk right to a same-depth comma/close-paren/clause keyword."""
    depth = 0
    i = pos
    while i < len(sql):
        c = sql[i]
        if c in "'\"":
            i = _skip_string(sql, i)
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            if depth == 0:
                return i
            depth -= 1
        elif c == "," and depth == 0:
            return i
        elif (c.isalpha() or c == "_") and depth == 0:
            m = _IDENT.match(sql, i)
            if m and m.group(0).lower() in _TERNARY_STOP_KW:
                return i
            i = m.end() if m else i + 1
            continue
        i += 1
    return len(sql)


def _rewrite_ternary(sql: str) -> str:
    """CH ternary ``cond ? a : b`` (src/Parsers/ExpressionListParsers.cpp
    ternary operator) -> ``if(cond, a, b)``.  String-aware scan; the
    condition extends left and the else-branch right to the nearest
    same-depth boundary (comma, paren, or clause keyword).  Nested
    ternaries resolve through repeated passes."""
    while True:
        # locate first single '?' outside strings ('??' is the
        # null-coalescing operator, handled separately)
        qpos = None
        i = 0
        while i < len(sql):
            c = sql[i]
            if c in "'\"":
                i = _skip_string(sql, i)
                continue
            if c == "?":
                if i + 1 < len(sql) and sql[i + 1] == "?":
                    i += 2
                    continue
                qpos = i
                break
            i += 1
        if qpos is None:
            return sql
        start = _expr_left_boundary(sql, qpos)
        cond = sql[start:qpos].strip()
        # matching ':' (skip nested ternaries and strings)
        depth = 0
        nest = 0
        i = qpos + 1
        colon = None
        while i < len(sql):
            c = sql[i]
            if c in "'\"":
                i = _skip_string(sql, i)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "?" and depth == 0:
                if i + 1 < len(sql) and sql[i + 1] == "?":
                    i += 2          # '??' null-coalesce, not a ternary
                    continue
                nest += 1
            elif c == ":" and depth == 0:
                if i + 1 < len(sql) and sql[i + 1] == ":":
                    i += 2          # '::' cast, not the ternary separator
                    continue
                if nest == 0:
                    colon = i
                    break
                nest -= 1
            i += 1
        if colon is None:
            return sql  # not a ternary (lone '?')
        then_part = sql[qpos + 1:colon].strip()
        end = _expr_right_boundary(sql, colon + 1)
        else_part = sql[colon + 1:end].strip()
        # constant-condition fold: the reference folds `0 ? a : b`
        # BEFORE name resolution, so the dead branch may reference
        # nonexistent columns (00712_prewhere-era corpus pattern)
        if re.fullmatch(r"[+-]?\d+(\.\d+)?", cond):
            chosen = else_part if float(cond) == 0 else then_part
            sql = sql[:start] + f" {chosen} " + sql[end:]
            continue
        sql = (sql[:start] + f" if({cond}, {then_part}, {else_part}) "
               + sql[end:])


_USING_BARE_RE = re.compile(
    r"(\bUSING\s+)(?!\()([A-Za-z_][A-Za-z0-9_]*"
    r"(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)",
    re.IGNORECASE)


def _rewrite_using_bare(sql: str) -> str:
    """CH allows ``JOIN ... USING a, b`` without parentheses
    (ParserJoin); Spark requires ``USING (a, b)``."""
    return _USING_BARE_RE.sub(lambda m: f"{m.group(1)}({m.group(2)})",
                              sql)


def _ch_type_to_sql(t: str) -> str:
    """Quoted CH type name from two-arg cast() -> Spark SQL type;
    Nullable() unwraps (Spark columns are nullable by default); a
    parenthesized operand (WITH-alias inlining wraps substitutions)
    unwraps too, and complex declarations (Array/Tuple/Map/...) route
    through the DDL converter."""
    t = t.strip()
    while t.startswith("(") and t.endswith(")"):
        t = t[1:-1].strip()
    t = t.strip().strip("'\"")
    m = re.fullmatch(r"Nullable\s*\((.*)\)", t, re.IGNORECASE)
    if m:
        t = m.group(1).strip()
    mapped = _CH_CAST_TYPES.get(t.lower())
    if mapped is not None:
        return mapped
    if "(" in t:
        try:
            return _ch_decl_type_to_spark(t)
        except Exception:
            return t
    return t


_COLONCOLON_COMPLEX_RE = re.compile(
    r"::\s*(Nullable|LowCardinality|Array|Tuple|Nested|Map|Decimal|Decimal32|"
    r"Decimal64|Decimal128|FixedString|Binary|DateTime64|DateTime|Enum8|"
    r"Enum16|Enum)\s*\(", re.IGNORECASE)
_CAST_AS_COMPLEX_RE = re.compile(
    r"(\bAS\s+)(Nullable|LowCardinality|Array|Tuple|Nested|Map|Decimal|"
    r"Decimal32|Decimal64|Decimal128|FixedString|Binary|DateTime64|DateTime|"
    r"Enum8|Enum16|Enum)\s*\(", re.IGNORECASE)


def _rewrite_cast_types(sql: str) -> str:
    """CAST(x AS UInt32) / x::DateTime — translate CH type names.
    Parenthesized type expressions (Nullable(T), Array(T), named
    Tuple(...), Decimal(p,s), ...) translate through the same CH-type
    -> Spark-DDL converter the typed-JSONExtract family uses;
    ``::Dynamic`` (the any-type carrier) drops — values already flow
    untyped here."""
    # literal-to-Decimal casts: the reference parses the string with
    # readDecimalText — the fraction TRUNCATES to the target scale
    # (never rounds), and an integer part exceeding the STORAGE width
    # (Decimal32/64/128 by p) minus the scale is ARGUMENT_OUT_OF_BOUND
    if re.search(r"(?i)Decimal\s*\(", sql):
        def _dec_lit(lit: str, declared: int, s: int) -> str:
            w = 9 if declared <= 9 else 18 if declared <= 18 else 38
            int_digits = len(lit.lstrip("-").split(".")[0].lstrip("0"))
            if int_digits > w - s:
                raise ValueError(
                    f"Decimal({declared}, {s}): value {lit!r} does "
                    f"not fit the Decimal"
                    f"{'32' if w == 9 else '64' if w == 18 else '128'}"
                    f" width (reference ARGUMENT_OUT_OF_BOUND)")
            if "." in lit:
                ip, fp = lit.split(".", 1)
                lit = f"{ip}.{fp[:s]}" if s else ip
            return lit

        sql = re.sub(
            r"(?is)CAST\s*\(\s*'(-?[\d.]+)'\s+AS\s+"
            r"Decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*\)",
            lambda m: (f"CAST('"
                       f"{_dec_lit(m.group(1), int(m.group(2)), int(m.group(3)))}"
                       f"' AS Decimal({m.group(2)}, {m.group(3)}))"),
            sql)
        sql = re.sub(
            r"(?is)'(-?[\d.]+)'\s*::\s*"
            r"Decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)",
            lambda m: (f"'"
                       f"{_dec_lit(m.group(1), int(m.group(2)), int(m.group(3)))}"
                       f"'::Decimal({m.group(2)}, {m.group(3)})"),
            sql)
    # complex '::Type(...)' forms first (the scalar regex can't span
    # parens); scan each match, balance the parens, convert
    for pat, prefix_keep in ((_COLONCOLON_COMPLEX_RE, False),
                             (_CAST_AS_COMPLEX_RE, True)):
        pos = 0
        while True:
            m = pat.search(sql, pos)
            if m is None:
                break
            open_i = sql.index("(", m.end() - 1)
            depth, j = 1, open_i + 1
            while j < len(sql) and depth:
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                j += 1
            tname = (m.group(2) if prefix_keep else m.group(1))
            ttext = f"{tname}{sql[open_i:j]}"
            ddl = _ch_type_ddl(ttext)
            if isinstance(ddl, tuple):
                # positional tuple: struct with col1..colN names
                ddl = ("STRUCT<" + ",".join(
                    f"`col{i + 1}`:{d}" for i, d in enumerate(ddl[1]))
                    + ">")
            if ddl is None or ttext == ddl:
                pos = m.end()           # unmapped / fixpoint: skip it
                continue
            lead = m.group(1) if prefix_keep else "::"
            sql = sql[:m.start()] + lead + ddl + sql[j:]
            pos = m.start() + len(lead + ddl)
    sql = re.sub(r"::\s*Dynamic\b", "", sql, flags=re.IGNORECASE)
    # ::JSON[(max_dynamic_paths=…, SKIP p, a.b Type)] — parameters
    # thread through as an inert info marker so the introspection
    # functions (JSONDynamicPaths / JSONSharedDataPaths) can split
    # paths per the declared budget (reference DataTypeObject path
    # metadata; goldens 03272_json_to_json_cast_*); the VALUE stays
    # the compact-serialized string carrier
    if re.search(r"(?i)::\s*JSON\b|\bAS\s+JSON\b", sql):
        sql = re.sub(r"(?is)::\s*JSON\s*(\((?:[^()]|\([^()]*\))*\))",
                     lambda m: "::JSON" + _json_cast_info_token(
                         m.group(1)), sql)
        # remember which SELECT aliases carry a parameterized cast so
        # introspection over the alias name resolves the same info
        for tok, al in re.findall(
                r"(?is)::JSON(CHINFO\d+)\s+as\s+`?(\w+)`?", sql):
            if tok in _JSON_CAST_INFO:
                _JSON_CAST_INFO[al.lower()] = _JSON_CAST_INFO[tok]
        sql = re.sub(r"(?is)(\bAS\s+)JSON\s*\((?:[^()]|\([^()]*\))*\)"
                     r"(\s*\))", r"\1JSON\2", sql)
        def _json_cast_postfix(m2):
            start = _trunc_operand_start(sql2[0], m2.start())
            opnd = sql2[0][start:m2.start()]
            if not opnd.strip():
                return None
            body = f"to_json(try_parse_json({opnd}))"
            info = m2.group(1)
            if info:
                body = f"IF(TRUE, {body}, '{info}')"
            return (start, body, m2.end())
        # postfix '::JSON' binds its operand like other trunc casts
        while True:
            sql2 = [sql]
            m2 = re.search(r"(?i)::\s*JSON(CHINFO\w+)?\b", sql)
            if m2 is None:
                break
            r2 = _json_cast_postfix(m2)
            if r2 is None:
                break
            s2, repl2, e2 = r2
            sql = sql[:s2] + repl2 + sql[e2:]
        sql = re.sub(r"(?is)\bCAST\s*\(((?:[^()]|\([^()]*\))*?)\s+"
                     r"AS\s+JSON\s*\)",
                     r"to_json(try_parse_json(\1))", sql)
    sql = _rewrite_trunc_casts(sql)
    sql = _CAST_TYPE_RE.sub(
        lambda m: m.group(1) + _CH_CAST_TYPES[m.group(2).lower()]
        + m.group(3), sql)
    return _COLONCOLON_TYPE_RE.sub(
        lambda m: "::" + _CH_CAST_TYPES[m.group(1).lower()], sql)


_JSON_CAST_INFO: dict[str, dict] = {}
_JSON_INFO_COUNTER = [0]


def _json_cast_info_token(params: str) -> str:
    """Parse ``::JSON(max_dynamic_paths=N, a UInt32, SKIP c, SKIP
    REGEXP '…')`` parameters (reference src/DataTypes/DataTypeObject.h
    path metadata) into a registered info record; returns the
    ``CHINFO<n>`` token threaded through the cast so introspection
    functions can recover the declared path budget."""
    mdp = None
    typed: list = []
    skips: list = []
    skipres: list = []
    for it in _split_top_commas(params.strip()[1:-1]):
        it = it.strip()
        if not it:
            continue
        m = re.match(r"(?is)^max_dynamic_paths\s*=\s*(\d+)$", it)
        if m:
            mdp = int(m.group(1))
            continue
        if re.match(r"(?is)^max_dynamic_types\s*=", it):
            continue
        m = re.match(r"(?is)^SKIP\s+REGEXP\s+'(.*)'$", it)
        if m:
            skipres.append(m.group(1))
            continue
        m = re.match(r"(?is)^SKIP\s+`?([\w.]+)`?$", it)
        if m:
            skips.append(m.group(1))
            continue
        m = re.match(r"(?is)^`?([\w.]+)`?\s+\S.*$", it)
        if m:
            typed.append(m.group(1))
            continue
    if mdp is None and not typed and not skips and not skipres:
        return ""
    _JSON_INFO_COUNTER[0] += 1
    tok = f"CHINFO{_JSON_INFO_COUNTER[0]}"
    _JSON_CAST_INFO[tok] = {"mdp": mdp, "typed": typed,
                            "skip": skips, "skipre": skipres}
    return tok


def _json_info_of(x: str) -> dict | None:
    """The cast-info record carried by a translated expression — via
    its inert ``'CHINFO<n>'`` marker, or by SELECT-alias name."""
    m = re.search(r"'(CHINFO\d+)'", x)
    if m:
        return _JSON_CAST_INFO.get(m.group(1))
    return _JSON_CAST_INFO.get(x.strip().strip("`").lower())


def _json_split_paths_sql(x: str, shared: bool) -> str:
    """JSONDynamicPaths / JSONSharedDataPaths over the string carrier:
    without declared parameters every path is dynamic; with a
    ``max_dynamic_paths`` budget the first N non-typed, non-skipped
    paths (sorted) are dynamic and the rest live in shared data
    (reference ColumnObject overflow; goldens 03272_json_to_json_*).
    The reference orders by column-global value counts with an
    alphabetical tie-break; the string carrier has no column
    statistics, so the sorted order IS the order (LIMITS)."""
    info = _json_info_of(x)
    allp = _json_all_paths_sql(x)
    if info is None:
        return "array()" if shared else allp
    fil = allp
    excl = [p for p in info["typed"] + info["skip"]]
    if excl:
        inl = ", ".join(f"'{p}'" for p in excl)
        fil = f"filter({fil}, __dp -> __dp NOT IN ({inl}))"
    for pat in info["skipre"]:
        fil = (f"filter({fil}, __dp -> NOT __dp RLIKE "
               f"'{pat}')")
    mdp = info["mdp"]
    if mdp is None:
        return "array()" if shared else fil
    if shared:
        return f"slice({fil}, {mdp} + 1, 1000000)"
    return f"slice({fil}, 1, {mdp})" if mdp else "array()"


def _json_split_paths_types_sql(x: str, shared: bool) -> str:
    """*WithTypes variants of :func:`_json_split_paths_sql` — the
    (path, type) entry array filtered to the same split."""
    info = _json_info_of(x)
    ents = _json_all_paths_sql(x, with_types=True)
    keys = _json_split_paths_sql(x, shared)
    if info is None and not shared:
        return f"__chmap_ss__(map_from_entries({ents}))"
    return (f"__chmap_ss__(map_from_entries(filter({ents}, __de -> "
            f"array_contains({keys}, __de.col1))))")


_TRUNC_CARRIERS = {
    "uint64": "DECIMAL(20,0)", "int128": "DECIMAL(38,0)",
    "int256": "DECIMAL(38,0)", "uint128": "DECIMAL(38,0)",
    "uint256": "DECIMAL(38,0)",
}


def _trunc_operand_start(sql: str, i: int) -> int:
    """Start index of the ``::``-cast operand ending just before
    position ``i`` (postfix-cast binding: a balanced call/paren group
    with optional function-name head, a quoted/backticked literal, or
    an identifier/number)."""
    k = i
    while k > 0 and sql[k - 1].isspace():
        k -= 1
    if k and sql[k - 1] == ")":
        depth, j = 0, k - 1
        while j >= 0:
            if sql[j] == ")":
                depth += 1
            elif sql[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        mfn = re.search(r"([A-Za-z_][\w]*)\s*$", sql[:max(j, 0)])
        return mfn.start(1) if mfn else max(j, 0)
    if k and sql[k - 1] in "'\"`":
        q, j = sql[k - 1], k - 2
        while j >= 0 and sql[j] != q:
            j -= 1
        return max(j, 0)
    j = k
    while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] in "._"):
        j -= 1
    return j


def _rewrite_trunc_casts(sql: str) -> str:
    """``CAST(x AS UInt64)`` / ``x::UInt64`` (and the 128/256-bit
    widths) — the DECIMAL-carrier targets need toward-zero truncation
    of float inputs (see _trunc_int_cast_sql); the generic type-name
    substitution would round."""
    # CAST(expr AS UInt64) — balanced-scan the CAST body
    pat = re.compile(r"(?i)\bCAST\s*\(")
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if m is None:
            break
        open_i = sql.index("(", m.end() - 1)
        depth, j = 1, open_i + 1
        while j < len(sql) and depth:
            if sql[j] in "'\"":
                j = _skip_string(sql, j)
                continue
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        body = sql[open_i + 1:j - 1]
        am = re.search(r"(?is)\s+AS\s+(u?int(?:64|128|256))\s*$", body)
        if am is None or am.group(1).lower() not in _TRUNC_CARRIERS \
                or am.group(1).lower() == "int64":
            pos = m.end()
            continue
        x = _rewrite_trunc_casts(body[:am.start()])
        repl = _trunc_int_cast_sql(x, _TRUNC_CARRIERS[am.group(1).lower()])
        sql = sql[:m.start()] + repl + sql[j:]
        pos = m.start() + len(repl)
    # x::UInt64 — postfix cast, scan the operand leftward
    pat2 = re.compile(r"::\s*(UInt64|U?Int128|U?Int256)\b(?!\s*\()",
                      re.IGNORECASE)
    while True:
        m2 = pat2.search(sql)
        if m2 is None:
            break
        start = _trunc_operand_start(sql, m2.start())
        x = sql[start:m2.start()].strip()
        if not x:
            # no operand found (defensive): substitute the type only
            sql = (sql[:m2.start()] + "::"
                   + _TRUNC_CARRIERS[m2.group(1).lower()]
                   + sql[m2.end():])
            continue
        repl = _trunc_int_cast_sql(
            x, _TRUNC_CARRIERS[m2.group(1).lower()])
        sql = sql[:start] + repl + sql[m2.end():]
    return sql


_LIMIT_TIES_RE = re.compile(
    r"^(?P<body>.+\bORDER\s+BY\s+(?P<order>.+?))\s+LIMIT\s+(?P<n>\d+)"
    r"(?:\s+OFFSET\s+(?P<off>\d+))?"
    r"\s+WITH\s+TIES\s*$",
    re.IGNORECASE | re.DOTALL)


def _rewrite_limit_with_ties(sql: str) -> str:
    """LIMIT n WITH TIES (reference LimitStep.h:16 with_ties): keep all
    rows tying with the n-th — rank() <= n over the same ordering."""
    m = _LIMIT_TIES_RE.match(sql)
    if not m:
        return sql
    order = m.group("order").strip()
    om = re.search(r"(.+)\bORDER\s+BY\s+" + re.escape(order) + r"\s*$",
                   m.group("body"), re.IGNORECASE | re.DOTALL)
    inner = om.group(1).strip() if om else m.group("body")
    off = int(m.group("off") or 0)
    # rank() joins the SAME scope as the projection so an EXPRESSION
    # sort key still sees the source columns (wrapping in another
    # subquery would only see the renamed projection outputs)
    try:
        proj, rest = _split_select(inner)
        ranked = (f"SELECT {proj}, rank() OVER (ORDER BY {order}) "
                  f"AS __rk FROM {rest}")
    except Exception:
        ranked = (f"SELECT *, rank() OVER (ORDER BY {order}) "
                  f"AS __rk FROM ({inner})")
    out = (f"SELECT * EXCEPT (__rk) FROM ({ranked}) "
           f"WHERE __rk <= {int(m.group('n')) + off} ORDER BY __rk")
    if off:
        out += f" OFFSET {off}"
    return out


_OPER_CHARS = set("+-*/%<>=!~^|&.")


def _sub_nonstring(sql: str, fn) -> str:
    """Apply ``fn`` to ``sql`` with string literals masked out as
    ``\\x00<idx>\\x00`` placeholders (so patterns can span a call whose
    arguments contain strings), then restore them."""
    cur, lits = [], []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"`":
            j = _skip_string(sql, i)
            lits.append(sql[i:j])
            cur.append(f"\x00{len(lits) - 1}\x00")
            i = j
            continue
        cur.append(c)
        i += 1
    masked = fn("".join(cur))
    return re.sub(r"\x00(\d+)\x00",
                  lambda m: lits[int(m.group(1))], masked)


def _rewrite_numeric_bool_ops(sql: str) -> str:
    """CH logical operators take numbers (nonzero = true) and NOT
    returns UInt8 (reference src/Functions/FunctionsLogical.cpp).
    Spark's are strictly boolean.  Rewrites the decidable literal
    cases: ``NOT <num>`` → IF(x = 0, 1, 0) (int result, so ``1 != NOT
    (1)`` keeps CH semantics), and a bare numeric/NULL literal operand
    of OR/AND → ``(lit <> 0)`` / typed NULL.  Non-literal operands
    (``toNullable(0) OR x``) are untyped at translation time and pass
    through."""
    def seg_fn(seg: str) -> str:
        # WHERE/HAVING over a bare numeric literal or literal-NOT:
        # nonzero-true (FunctionsLogical nonzero filter contract)
        seg = re.sub(
            r"(?i)\b(WHERE|HAVING)\s+NOT\s+([+-]?\d+(?:\.\d+)?)"
            r"(?![\w.])(?!\s*[=<>!+\-*/%,(])",
            lambda m: f"{m.group(1)} {m.group(2)} = 0", seg)
        seg = re.sub(
            r"(?i)\b(WHERE|HAVING)\s+([+-]?\d+(?:\.\d+)?)(?![\w.])"
            r"(?!\s*(?:[=<>!+\-*/%,(]|IN\b|BETWEEN\b|LIKE\b))",
            lambda m: f"{m.group(1)} {m.group(2)} <> 0", seg)
        # NOT over a bare numeric literal (the parenthesized form is
        # handled by the "not" function rule)
        seg = re.sub(
            r"(?i)\bNOT\s+([+-]?\d+(?:\.\d+)?)(?![\w.])",
            lambda m: f"IF({m.group(1)} = 0, 1, 0)", seg)

        def _boolable(m, lit_group, guard_between=True):
            pre = m.string[:m.start()]
            if guard_between:
                # an unpaired BETWEEN before this point claims the next
                # AND (BETWEEN lo AND hi, window frames)
                lastb = max((mm.start() for mm in
                             re.finditer(r"(?i)\bbetween\b", pre)),
                            default=-1)
                lasta = max((mm.start() for mm in
                             re.finditer(r"(?i)\band\b", pre)),
                            default=-1)
                if lastb > lasta:
                    return None
            p = pre.rstrip()
            if p and p[-1] in _OPER_CHARS:
                return None  # literal is part of an arithmetic chain
            return m.group(lit_group)

        def before_op(m):
            lit = _boolable(m, 1)
            post = m.string[m.end():].lstrip()
            if lit is None or (post and post[0] in _OPER_CHARS):
                return m.group(0)
            # `x IS [NOT] NULL AND ...`: the NULL belongs to the IS
            # predicate, not a boolean operand
            if lit.upper() == "NULL" and re.search(
                    r"(?i)\bIS\s+(NOT\s+)?$", m.string[:m.start()]):
                return m.group(0)
            rep = ("CAST(NULL AS BOOLEAN)" if lit.upper() == "NULL"
                   else f"({lit} <> 0)")
            return f"{rep} {m.group(2)}"

        seg = re.sub(
            r"(?i)(?<![\w.])((?:toNullable|materialize)\s*\(\s*"
            r"[+-]?\d+(?:\.\d+)?\s*\)|[+-]?\d+(?:\.\d+)?|NULL)"
            r"\s+(OR|AND)\b",
            before_op, seg)

        def after_op(m):
            lit = _boolable(m, 2)
            post = m.string[m.end():].lstrip()
            if lit is None or (post and (post[0] in _OPER_CHARS
                                         or re.match(r"(?i)(IN|BETWEEN|LIKE|IS|PRECEDING|FOLLOWING)\b",
                                                     post))):
                return m.group(0)
            rep = ("CAST(NULL AS BOOLEAN)" if lit.upper() == "NULL"
                   else f"({lit} <> 0)")
            return f"{m.group(1)} {rep}"

        seg = re.sub(
            r"(?i)\b(OR|AND)\s+((?:toNullable|materialize)\s*\(\s*"
            r"[+-]?\d+(?:\.\d+)?\s*\)|[+-]?\d+(?:\.\d+)?|NULL)"
            r"(?![\w.])",
            after_op, seg)
        # CH allows a bare scalar on the right of IN: `x IN 1`,
        # `d IN toDate('…')` (src/Functions/in.cpp) — parenthesize it
        # into the standard value list.  Only unparenthesized literals
        # and flat calls; anything with its own parens-first is
        # already standard.
        def in_scalar(m):
            v = m.group(1)
            tm = re.match(r"(?i)(?:tuple|array)\s*\((.*)\)$",
                          v.strip())
            # IN tuple(a, b) / IN array(a, b) is the value LIST,
            # not a struct/array value (src/Functions/in.cpp)
            return f"IN ({tm.group(1)})" if tm else f"IN ({v})"

        seg = re.sub(
            r"(?i)\bIN\s+([+-]?\d+(?:\.\d+)?|NULL\b|\w+\([^()]*\)|"
            r"\x00\d+\x00)"
            r"(?=\s|$|,|\)|\x00)",
            in_scalar, seg)
        return seg

    return _sub_nonstring(sql, seg_fn)


def _top_commas_count(s: str) -> int:
    depth = 0
    n = 0
    i = 0
    while i < len(s):
        c = s[i]
        if c in "'\"`":
            i = _skip_string(s, i)
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            n += 1
        i += 1
    return n


def _rewrite_tuple_in(sql: str) -> str:
    """``(a, b) IN (x, y)`` — CH reads a bare N-element RHS against an
    N-element tuple LHS as ONE tuple value (src/Functions/in.cpp);
    Spark reads it as a 2-element scalar list.  Wrap the RHS in an
    extra paren level so it becomes a single struct row.

    Under ``transform_null_in = 1`` the expanded pairwise comparisons
    are NULL-SAFE (the reference treats NULL as a comparable value in
    IN — golden 01507_transform_null_in)."""
    _EQ = ("<=>" if str(SESSION_SETTINGS.get(
        "transform_null_in", "0")) == "1" else "=")

    def seg_fn(seg: str) -> str:
        out = seg
        pos = 0
        while True:
            m = re.search(r"(?i)\)\s*(NOT\s+)?IN\s*\(", out[pos:])
            if m is None:
                return out
            close_i = pos + m.start()
            # lhs group: scan back to its opener
            depth = 0
            j = close_i
            while j >= 0:
                if out[j] == ")":
                    depth += 1
                elif out[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            lhs = out[j + 1:close_i]
            open_r = pos + m.end() - 1
            end_r = _matching_paren(out, open_r)
            if j < 0 or end_r < 0:
                pos = close_i + m.end() - m.start()
                continue
            rhs = out[open_r + 1:end_r]
            # bare parenthesized tuple LHS only: a function call's
            # argument list (`substring(s, 1) IN (...)`) has an
            # identifier/backtick immediately before its "(" and must
            # not be treated as a tuple
            k = j - 1
            while k >= 0 and out[k] in " \t\n":
                k -= 1
            lhs_is_call = k >= 0 and (out[k].isalnum()
                                      or out[k] in "_`$")
            if lhs_is_call and out[k] not in "`$":
                e = k + 1
                while k >= 0 and (out[k].isalnum() or out[k] == "_"):
                    k -= 1
                # a KEYWORD before "(" means a bare tuple, not a call
                lhs_is_call = out[k + 1:e].upper() not in (
                    "SELECT", "WHERE", "AND", "OR", "NOT", "ON",
                    "WHEN", "THEN", "ELSE", "BY", "HAVING", "IN",
                    "ALL", "DISTINCT", "UNION", "EXCEPT", "INTERSECT",
                    "AS", "FROM", "PREWHERE", "QUALIFY", "SETTINGS")
            # tuple-IN-subquery keeps SQL semantics — never expand
            rhs_is_subq = bool(
                re.match(r"(?is)\s*\(*\s*(SELECT|WITH)\b", rhs))
            n_l, n_r = _top_commas_count(lhs), _top_commas_count(rhs)
            rhs_items = _split_top_commas(rhs)
            rhs_tuples = all(x.strip().startswith("(")
                             for x in rhs_items if x.strip())
            if (n_l > 0 and n_l == n_r and not rhs_tuples
                    and not lhs_is_call and not rhs_is_subq):
                # expand to pairwise equality — sidesteps Spark's
                # struct-field-NAME sensitivity in IN comparisons
                l_items = _split_top_commas(lhs)
                eq = " AND ".join(
                    f"(({li.strip()}) {_EQ} ({ri.strip()}))"
                    for li, ri in zip(l_items, rhs_items))
                repl = (f"(NOT ({eq}))" if m.group(1)
                        else f"({eq})")
                out = out[:j] + repl + out[end_r + 1:]
                pos = j + len(repl)
            elif (n_l > 0 and rhs_tuples and not lhs_is_call
                    and not rhs_is_subq):
                # tuple IN a LIST of tuples: OR-chain of pairwise
                # equalities (type-lenient, unlike Spark's struct IN)
                l_items = [x.strip() for x in _split_top_commas(lhs)]
                ors = []
                ok2 = True
                for cand in rhs_items:
                    cs = cand.strip()
                    if not (cs.startswith("(") and cs.endswith(")")):
                        ok2 = False
                        break
                    c_items = _split_top_commas(cs[1:-1])
                    if len(c_items) != len(l_items):
                        ok2 = False
                        break
                    ors.append("(" + " AND ".join(
                        f"(({li}) {_EQ} ({ci.strip()}))"
                        for li, ci in zip(l_items, c_items)) + ")")
                if ok2 and ors:
                    eq = " OR ".join(ors)
                    repl = (f"(NOT ({eq}))" if m.group(1)
                            else f"({eq})")
                    out = out[:j] + repl + out[end_r + 1:]
                    pos = j + len(repl)
                else:
                    pos = end_r
            else:
                pos = end_r
    return _sub_nonstring(sql, seg_fn)


def _rewrite_tuple_eq(sql: str) -> str:
    """``x = (a, b, ...)`` — equality between a tuple-valued COLUMN
    and a bare tuple literal (src/Functions/in.cpp comparison path):
    expand to pairwise field equality over the positional col1..colN
    carrier, sidestepping Spark's struct type/name strictness."""
    def seg_fn(seg: str) -> str:
        pat = re.compile(
            r"((?:[A-Za-z_][\w]*|`[^`]+`)(?:\.(?:\w+|`[^`]+`))*)"
            r"\s*(==|!=|<>|=)\s*\(")
        pos = 0
        while True:
            m = pat.search(seg, pos)
            if m is None:
                return seg
            open_i = m.end() - 1
            end_i = _matching_paren(seg, open_i)
            if end_i < 0:
                pos = m.end()
                continue
            inner = seg[open_i + 1:end_i]
            items = _split_top_commas(inner)
            lhs = m.group(1)
            if (len(items) < 2
                    or re.match(r"(?is)\s*(SELECT|WITH)\b", inner)
                    or lhs.upper() in _ARITH_LEFT_KEYWORDS):
                pos = m.end()
                continue
            eq = " AND ".join(
                f"(({lhs}.col{i + 1}) = ({it.strip()}))"
                for i, it in enumerate(items))
            repl = (f"(NOT ({eq}))" if m.group(2) in ("!=", "<>")
                    else f"({eq})")
            seg = seg[:m.start()] + repl + seg[end_i + 1:]
            pos = m.start() + len(repl)

    def seg_fn_paren(seg: str) -> str:
        # (a, b) = (c, d): bare paren-tuple LHS — pairwise elements
        pos = 0
        while True:
            m = re.search(r"\)\s*(==|!=|<>|=)\s*\(", seg[pos:])
            if m is None:
                return seg
            close_i = pos + m.start()
            depth, j = 0, close_i
            while j >= 0:
                if seg[j] == ")":
                    depth += 1
                elif seg[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            open_r = pos + m.end() - 1
            end_r = _matching_paren(seg, open_r)
            if j < 0 or end_r < 0:
                pos = close_i + 1
                continue
            k = j - 1
            while k >= 0 and seg[k] in " \t\n":
                k -= 1
            if k >= 0 and (seg[k].isalnum() or seg[k] in "_`$"):
                e = k + 1
                while k >= 0 and (seg[k].isalnum() or seg[k] == "_"):
                    k -= 1
                if seg[k + 1:e].upper() not in (
                        "SELECT", "WHERE", "AND", "OR", "NOT", "ON",
                        "WHEN", "THEN", "ELSE", "BY", "HAVING", "IN",
                        "ALL", "DISTINCT", "AS", "FROM", "PREWHERE",
                        "QUALIFY", "SETTINGS", "UNION"):
                    pos = close_i + 1    # function call, not a tuple
                    continue
            lhs_items = _split_top_commas(seg[j + 1:close_i])
            rhs_items = _split_top_commas(seg[open_r + 1:end_r])
            if len(lhs_items) < 2 or len(lhs_items) != len(rhs_items) \
                    or re.match(r"(?is)\s*(SELECT|WITH)\b",
                                seg[open_r + 1:end_r]):
                pos = end_r
                continue
            op = re.search(r"(==|!=|<>|=)", seg[close_i:open_r]).group(1)
            eq = " AND ".join(
                f"(({li.strip()}) = ({ri.strip()}))"
                for li, ri in zip(lhs_items, rhs_items))
            repl = f"(NOT ({eq}))" if op in ("!=", "<>") else f"({eq})"
            seg = seg[:j] + repl + seg[end_r + 1:]
            pos = j + len(repl)

    out = _sub_nonstring(sql, seg_fn)
    return _sub_nonstring(out, seg_fn_paren)


def _rewrite_json_struct_compare(sql: str) -> str:
    """``json.sub = (a, b)`` — a JSON subcolumn (string carrier,
    already rewritten to get_json_object) compared against a tuple
    literal (already rewritten to named_struct): the reference
    compares the subobject's values POSITIONALLY in sorted-key order
    (SerializationObject tuple order; golden 02887
    ``obj.k1 = ('foo', 'baz')``).  Rewrite to a sorted-map-values
    array comparison."""
    if "get_json_object" not in sql:
        return sql

    def seg_fn(seg: str) -> str:
        pos = 0
        while True:
            m = re.search(r"get_json_object\s*\(", seg[pos:])
            if m is None:
                return seg
            gstart = pos + m.start()
            gopen = pos + m.end() - 1
            gclose = _matching_paren(seg, gopen)
            if gclose < 0:
                return seg
            after = seg[gclose + 1:]
            om = re.match(r"\s*(=|!=|<>)\s*(named_struct\s*)?\(",
                          after)
            if om is None:
                pos = gclose + 1
                continue
            nopen = gclose + 1 + om.end() - 1
            nclose = _matching_paren(seg, nopen)
            if nclose < 0:
                pos = gclose + 1
                continue
            gjo = seg[gstart:gclose + 1]
            nargs = _split_top_commas(seg[nopen + 1:nclose])
            if om.group(2):
                # named_struct('col1', v1, 'col2', v2, ...)
                vals = [nargs[i].strip()
                        for i in range(1, len(nargs), 2)]
            else:
                # bare paren tuple (v1, v2, ...) — require a real
                # tuple (≥ 2 items) so ordinary parenthesized scalars
                # keep Spark's native comparison
                if len(nargs) < 2 or re.match(
                        r"(?is)\s*(SELECT|WITH)\b",
                        seg[nopen + 1:nclose]):
                    pos = gclose + 1
                    continue
                vals = [x.strip() for x in nargs]
            mexp = f"from_json({gjo}, 'map<string,string>')"
            lhs2 = (f"transform(array_sort(map_keys({mexp})), "
                    f"__jtk -> element_at({mexp}, __jtk))")
            rhs2 = ("array(" + ", ".join(
                f"CAST({v} AS STRING)" for v in vals) + ")")
            neg = om.group(1) in ("!=", "<>")
            repl = (f"({'NOT ' if neg else ''}"
                    f"(({lhs2}) = ({rhs2})))")
            seg = seg[:gstart] + repl + seg[nclose + 1:]
            pos = gstart + len(repl)

    # NOT via _sub_nonstring: the get_json_object call contains a
    # string-literal JSON path, so paren matching must run on the
    # full text (string-aware via _matching_paren/_skip_string)
    return seg_fn(sql)


def _rewrite_null_safe_in(sql: str) -> str:
    """Under ``transform_null_in = 1`` a scalar ``x IN (v, NULL, ...)``
    treats NULL as a comparable value (reference in.cpp with the
    setting; golden 01507): expand to a null-safe ``<=>`` OR-chain.
    Only IN lists that mention NULL (or a NULL LHS) change; subquery
    RHS and plain lists keep Spark's native IN."""
    if str(SESSION_SETTINGS.get("transform_null_in", "0")) != "1":
        return sql
    if not re.search(r"(?i)\bIN\b", sql) \
            or not re.search(r"(?i)\bNULL\b", sql):
        return sql

    def seg_fn(seg: str) -> str:
        pos = 0
        while True:
            m = re.search(r"(?i)\b(NOT\s+)?IN\s*\(", seg[pos:])
            if m is None:
                return seg
            open_i = pos + m.end() - 1
            end_i = _matching_paren(seg, open_i)
            if end_i < 0:
                return seg
            inner = seg[open_i + 1:end_i]
            if re.match(r"(?is)\s*(SELECT|WITH)\b", inner) \
                    or not re.search(r"(?i)\bNULL\b", inner):
                pos = end_i + 1
                continue
            # LHS: the expression token/group before IN
            lend = pos + m.start()
            k = lend - 1
            while k >= 0 and seg[k] in " \t\n":
                k -= 1
            if k < 0:
                pos = end_i + 1
                continue
            if seg[k] == ")":
                depth, j = 0, k
                while j >= 0:
                    if seg[j] == ")":
                        depth += 1
                    elif seg[j] == "(":
                        depth -= 1
                        if depth == 0:
                            break
                    j -= 1
                lstart = j
            else:
                j = k
                while j >= 0 and (seg[j].isalnum()
                                  or seg[j] in "_`.\x00"):
                    j -= 1
                lstart = j + 1
            lhs = seg[lstart:k + 1].strip()
            if not lhs or lhs.upper() in ("AND", "OR", "NOT", "WHERE",
                                          "WHEN", "THEN", "ELSE",
                                          "SELECT", "HAVING", "ON"):
                pos = end_i + 1
                continue
            items = [x.strip() for x in _split_top_commas(inner)
                     if x.strip()]
            if not items:
                pos = end_i + 1
                continue
            ors = " OR ".join(f"(({lhs}) <=> ({v}))" for v in items)
            repl = (f"(NOT ({ors}))" if m.group(1) else f"({ors})")
            seg = seg[:lstart] + repl + seg[end_i + 1:]
            pos = lstart + len(repl)

    return _sub_nonstring(sql, seg_fn)


def _fold_const_int(expr: str):
    """Python-side constant folding of the safe integer-expression
    subset that appears as TVF arguments (reference
    evaluateConstantExpression): integer literals, + - * / % parens,
    and to(U)IntN wrappers with C++ wraparound.  Returns None when the
    expression isn't a foldable constant."""
    e = expr.strip()
    m = re.fullmatch(r"(?is)to(u?)int(8|16|32|64)\s*\((.*)\)", e)
    if m:
        v = _fold_const_int(m.group(3))
        if v is None:
            return None
        bits = int(m.group(2))
        v %= (1 << bits)
        if m.group(1).lower() != "u" and v >= (1 << (bits - 1)):
            v -= 1 << bits
        return v
    if re.fullmatch(r"[-+0-9*/% ()\t]*\d[-+0-9*/% ()\t]*", e) \
            and "**" not in e:
        # tiny arithmetic parser, NOT eval: `9**9**9` must not hang
        # the process, and /,% follow C++ TRUNCATION for negatives
        # (the reference's integer ops), not Python's floor semantics
        toks = re.findall(r"\d+|[-+*/%()]", e)
        p = [0]

        def _atom():
            neg = False
            while p[0] < len(toks) and toks[p[0]] in "+-":
                neg ^= (toks[p[0]] == "-")
                p[0] += 1
            if p[0] >= len(toks):
                raise ValueError
            t = toks[p[0]]
            p[0] += 1
            if t == "(":
                v = _sum()
                if p[0] >= len(toks) or toks[p[0]] != ")":
                    raise ValueError
                p[0] += 1
            elif t.isdigit():
                v = int(t)
            else:
                raise ValueError
            return -v if neg else v

        def _term():
            v = _atom()
            while p[0] < len(toks) and toks[p[0]] in "*/%":
                op = toks[p[0]]
                p[0] += 1
                r = _atom()
                if op == "*":
                    v *= r
                elif r == 0:
                    raise ValueError
                elif op == "/":
                    q = abs(v) // abs(r)
                    v = q if (v >= 0) == (r >= 0) else -q
                else:
                    v = v - r * (abs(v) // abs(r)
                                 if (v >= 0) == (r >= 0)
                                 else -(abs(v) // abs(r)))
            return v

        def _sum():
            v = _term()
            while p[0] < len(toks) and toks[p[0]] in "+-":
                op = toks[p[0]]
                p[0] += 1
                v = v + _term() if op == "+" else v - _term()
            return v

        try:
            v = _sum()
            if p[0] != len(toks):
                return None
            return v
        except Exception:
            return None
    return None


_GBALIAS_TERM_RE = re.compile(
    r"(?i)^(ORDER|HAVING|LIMIT|SETTINGS|WITH|UNION|EXCEPT|INTERSECT|"
    r"FORMAT|INTO|WINDOW|QUALIFY)\b")


def _depth_map(sql: str):
    """Paren depth at each index (string-aware)."""
    d = [0] * (len(sql) + 1)
    i, depth, n = 0, 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"":
            j = _skip_string(sql, i)
            for k in range(i, min(j, n)):
                d[k] = depth
            i = j
            continue
        if c == "(":
            d[i] = depth
            depth += 1
        elif c == ")":
            depth -= 1
            d[i] = depth
        else:
            d[i] = depth
        i += 1
    d[n] = depth
    return d


def _rewrite_group_by_aliases(sql: str) -> str:
    """``GROUP BY expr AS k`` defines ``k`` as a query-wide alias
    (reference QueryNormalizer — aliases from ANY clause resolve
    everywhere; golden 00184 ``GROUP BY number AS n ORDER BY n``).
    Spark's GROUP BY takes no aliases: strip the ``AS k`` and
    substitute standalone ``k`` inside the same SELECT scope — the
    select-list occurrence becomes ``(expr) AS k`` so the output
    column name survives."""
    if not re.search(r"(?i)\bGROUP\s+BY\b[^;]*?\sAS\s", sql):
        return sql
    for _ in range(8):          # one GROUP BY rewritten per pass
        d = _depth_map(sql)
        done = True
        for gm in re.finditer(r"(?i)\bGROUP\s+BY\s", sql):
            d0 = d[gm.start()]
            # extent of the GROUP BY item list
            i, n = gm.end(), len(sql)
            while i < n:
                if d[i] < d0:
                    break
                if d[i] == d0:
                    t = _GBALIAS_TERM_RE.match(sql[i:])
                    if t and (i == 0 or not sql[i - 1].isalnum()):
                        break
                if sql[i] in "'\"":
                    i = _skip_string(sql, i)
                    continue
                i += 1
            list_txt = sql[gm.end():i]
            items = _split_top_commas(list_txt)
            pairs, new_items = [], []
            for it in items:
                am = None
                itops = _top_level_set(it)
                for mm in re.finditer(r"(?is)\sAS\s", it):
                    if mm.start() in itops:
                        am = mm
                if am is not None and re.fullmatch(
                        r"`?\w+`?", it[am.end():].strip()):
                    alias = it[am.end():].strip().strip("`")
                    expr = it[:am.start()].strip()
                    pairs.append((alias, expr))
                    new_items.append(expr)
                else:
                    new_items.append(it.strip())
            if not pairs:
                continue
            # scope: the SELECT at the same depth before this GROUP BY
            sel_start = 0
            for sm2 in re.finditer(r"(?i)\bSELECT\b", sql[:gm.start()]):
                if d[sm2.start()] == d0:
                    sel_start = sm2.start()
            scope_end = i
            while scope_end < n and d[scope_end] >= d0:
                scope_end += 1
            from_pos = None
            for fm in re.finditer(r"(?i)\bFROM\b",
                                  sql[sel_start:gm.start()]):
                if d[sel_start + fm.start()] == d0:
                    from_pos = sel_start + fm.start()
                    break
            seg_before = sql[sel_start:gm.end()]
            seg_after = sql[i:scope_end]

            def _subst(seg: str, offset: int) -> str:
                out, j2 = [], 0
                while j2 < len(seg):
                    c2 = seg[j2]
                    if c2 in "'\"`":
                        k2 = _skip_string(seg, j2)
                        out.append(seg[j2:k2])
                        j2 = k2
                        continue
                    mm = _IDENT.match(seg, j2)
                    if mm:
                        w = mm.group(0)
                        hit = next((e for a2, e in pairs if a2 == w),
                                   None)
                        nxt = seg[mm.end():].lstrip()[:1]
                        prev = "".join(out).rstrip()
                        if hit is not None and nxt != "(" \
                                and not prev.upper().endswith(" AS") \
                                and not prev.endswith("."):
                            pos_abs = offset + j2
                            # keep the output NAME only when the use
                            # is a WHOLE top-level select item (bare
                            # `k` between commas), never inside a call
                            # or expression
                            after = seg[mm.end():].lstrip()
                            before = prev[-1:] if prev else ""
                            whole_item = (
                                from_pos is not None
                                and sel_start < pos_abs < from_pos
                                and d[pos_abs] == d0
                                and (before in (",", "")
                                     or prev.upper().endswith("SELECT")
                                     or prev.upper().endswith(
                                         "DISTINCT"))
                                and (after[:1] in (",", "")
                                     or re.match(r"(?i)FROM\b", after)))
                            out.append(f"({hit}) AS `{w}`"
                                       if whole_item
                                       else f"({hit})")
                        else:
                            out.append(w)
                        j2 = mm.end()
                        continue
                    out.append(c2)
                    j2 += 1
                return "".join(out)

            sql = (sql[:sel_start] + _subst(seg_before, sel_start)
                   + ", ".join(new_items) + " "
                   + _subst(seg_after, i) + sql[scope_end:])
            done = False
            break
        if done:
            break
    return sql


def _rewrite_numbers_tvf(sql: str) -> str:
    """numbers(N) / numbers(offset, N) / generate_series(a, b[, step])
    table functions (reference
    src/TableFunctions/registerTableFunctions.h:10-12) → Spark's range()
    TVF wrapped to carry the CH column names ``number`` /
    ``generate_series`` (generate_series is END-INCLUSIVE in CH)."""
    def num_sub(m):
        # the reference accepts float/scientific counts (1e2) and
        # truncates them to integers
        if m.group(2) is not None:
            a = int(float(m.group(1)))
            return (f"(SELECT id AS number FROM "
                    f"range({a}, {a + int(float(m.group(2)))}))")
        return (f"(SELECT id AS number FROM "
                f"range({int(float(m.group(1)))}))")

    def gs_sub(m):
        a, b = int(m.group(1)), int(m.group(2))
        step = int(m.group(3) or 1)
        return (f"(SELECT id AS generate_series FROM "
                f"range({a}, {b + 1}, {step}))")

    sql = _NUMBERS_TVF_RE.sub(num_sub, sql)
    # constant-EXPRESSION arguments (numbers(toUInt64(-1)),
    # numbers(2 + 3)): the reference constant-folds TVF arguments
    # (src/TableFunctions/TableFunctionNumbers.cpp evaluates the
    # argument expression); fold the safe integer subset here.  Counts
    # beyond 2^31 are the corpus's "effectively unbounded under LIMIT"
    # idiom — expose the same wide bounded range as system.numbers.
    pos = 0
    while True:
        m = re.search(r"(?i)\bnumbers\s*\(", sql[pos:])
        if m is None:
            break
        open_i = pos + m.end() - 1
        end_i = _matching_paren(sql, open_i)
        if end_i < 0:
            break
        args = [_fold_const_int(a) for a in
                _split_top_commas(sql[open_i + 1:end_i])]
        if args and all(v is not None for v in args):
            # only the ROW-COUNT clamps (the single arg, or the second
            # of two) — clamping the two-arg form's START OFFSET would
            # return the wrong values entirely
            vals = list(args)
            ci = 1 if len(vals) == 2 else 0
            if vals[ci] > (1 << 31):
                vals[ci] = 1 << 20
            rng = (f"range({vals[0]}, {vals[0] + vals[1]})"
                   if len(vals) == 2 else f"range({vals[0]})")
            repl = f"(SELECT id AS number FROM {rng})"
            sql = sql[:pos + m.start()] + repl + sql[end_i + 1:]
            pos = pos + m.start() + len(repl)
        else:
            pos = end_i + 1
    sql = _ZEROS_TVF_RE.sub(
        lambda m: (f"(SELECT CAST(0 AS SMALLINT) AS zero FROM "
                   f"range({int(m.group(1))}))"), sql)
    # remote/remoteSecure/cluster/clusterAllReplicas table functions
    # proxy to the named table on the addressed server (reference
    # src/TableFunctions/TableFunctionRemote.cpp) — the corpus
    # addresses localhost/test clusters, i.e. THIS engine's session
    # tables
    pos = 0
    while True:
        m = re.search(r"(?i)\b(remote(?:Secure)?|cluster"
                      r"(?:AllReplicas)?)\s*\(", sql[pos:])
        if m is None:
            break
        open_i = pos + m.end() - 1
        end_i = _matching_paren(sql, open_i)
        if end_i < 0:
            break
        args = _split_top_commas(sql[open_i + 1:end_i])

        def _shard_count(addr: str) -> int:
            # '127.0.0.{1,2,3}' fans out to one read PER SHARD
            # (comma-separated); '|' separates REPLICAS of one shard
            # — a single read (TableFunctionRemote address patterns)
            n = 1
            for g in re.findall(r"\{([^}]*)\}", addr.strip("'\" ")):
                rm9 = re.fullmatch(r"(\d+)\.\.(\d+)", g.strip())
                if rm9:
                    n *= abs(int(rm9.group(2)) - int(rm9.group(1))) + 1
                elif "," in g:
                    n *= len(g.split(","))
            return n

        shards = (_shard_count(args[0])
                  if args and m.group(1).lower().startswith("remote")
                  else 1)
        tbl = None
        if len(args) >= 2:
            a1 = args[1].strip()
            if re.match(r"(?is)^\(\s*SELECT\b", a1):
                # table-function argument (numbers(...) already
                # rewritten to a subquery): the remote read IS it,
                # once per addressed shard
                if shards > 1:
                    a1 = ("(" + " UNION ALL ".join(
                        [f"SELECT * FROM {a1}"] * shards) + ")")
                sql = sql[:pos + m.start()] + a1 + sql[end_i + 1:]
                pos = pos + m.start() + len(a1)
                continue
            a1 = a1.strip("'\"")
            if "." in a1:
                tbl = a1.split(".")[-1]
            elif len(args) >= 3 and re.fullmatch(
                    r"'[\w.]+'|\w+", args[2].strip()):
                tbl = args[2].strip().strip("'\"")
            else:
                tbl = a1
        if tbl is None or not re.fullmatch(r"\w+", tbl):
            pos = end_i + 1
            continue
        repl = (f"system.{tbl}" if args[1].strip().strip("'\"")
                .startswith("system.") else f"`{tbl}`")
        if shards > 1:
            repl = ("(" + " UNION ALL ".join(
                [f"SELECT * FROM {repl}"] * shards) + ")")
        sql = sql[:pos + m.start()] + repl + sql[end_i + 1:]
        pos = pos + m.start() + len(repl)
    # system.numbers is the unbounded variant, always consumed under a
    # LIMIT (reference src/Storages/System/StorageSystemNumbers.h);
    # Spark has no infinite TVF, so expose a wide bounded range (2^24
    # — golden 00086 scans to row 10^7 under LIMIT 1; range() is
    # codegen'd, and LIMIT stops the scan) — any query that would
    # exhaust 2^24 rows without a LIMIT is not a query this table is
    # for.  system.one is the 1-row dummy table.
    # ONLY a pure filter+small-LIMIT pipeline gets the wide range
    # (the scan early-stops at the limit — golden 00086 probes row
    # 10^7 under LIMIT 1); any aggregation/sort/grouping consumes
    # the WHOLE range first, so those keep the bounded 2^20 and the
    # heap stays safe
    _lm = re.search(r"(?i)\bLIMIT\s+(\d+)", sql)
    _nums_bound = 1048576
    if _lm and int(_lm.group(1)) <= 1000 and not re.search(
            r"(?i)\b(GROUP\s+BY|ORDER\s+BY|DISTINCT|JOIN|"
            r"count|sum|min|max|avg|any|uniq\w*|group\w+|median|"
            r"quantile\w*|argMin|argMax|corr|covar\w*|stddev\w*|"
            r"var\w*|topK\w*|histogram|collect_\w+|percentile)\s*\(?",
            sql):
        _nums_bound = 16777216
    sql = re.sub(r"\bsystem\.numbers_mt\b",
                 f"(SELECT id AS number FROM range({_nums_bound}))",
                 sql, flags=re.IGNORECASE)
    sql = re.sub(r"\bsystem\.numbers\b",
                 f"(SELECT id AS number FROM range({_nums_bound}))",
                 sql, flags=re.IGNORECASE)
    sql = re.sub(r"\bsystem\.one\b",
                 "(SELECT CAST(0 AS SMALLINT) AS dummy)", sql,
                 flags=re.IGNORECASE)
    # system.settings: name/value pairs of this engine's session conf
    # analog (StorageSystemSettings.cpp) — enough for the corpus's
    # "read one setting" probes
    if re.search(r"(?i)\bsystem\.settings\b", sql):
        # session SET overrides show through with changed=1
        # (StorageSystemSettings reads the live Settings object;
        # golden 01039 size-suffix parses)
        defaults = {"max_memory_usage": "10000000000",
                    "max_threads": "32",
                    "max_block_size": "65409",
                    "join_use_nulls": "0",
                    "max_insert_block_size": "1048449"}
        rows = {k: (v, 0) for k, v in defaults.items()}
        for k, v in SESSION_SETTINGS.items():
            rows[str(k)] = (str(v), 1)
        body = " UNION ALL ".join(
            f"SELECT '{k}' AS name, '{v}' AS value, {ch} AS changed"
            for k, (v, ch) in sorted(rows.items())
            if re.fullmatch(r"[\w.]+", str(k))
            and "'" not in str(v))
        sql = re.sub(r"\bsystem\.settings\b", f"({body})", sql,
                     flags=re.IGNORECASE)
    # `SELECT * WHERE cond` (any nesting level): the implicit source
    # is system.one — SELECT * cannot resolve without a FROM in Spark
    sql = re.sub(r"(?is)\bSELECT\s+\*\s+WHERE\b",
                 "SELECT * FROM (SELECT CAST(0 AS SMALLINT) AS dummy) "
                 "WHERE", sql)
    # a FROM-less SELECT referencing `dummy` implies FROM system.one
    # (reference: the default table of a bare SELECT is system.one)
    if re.search(r"\bdummy\b", sql) \
            and not re.search(r"\bFROM\b", sql, re.IGNORECASE) \
            and len(re.findall(r"\bSELECT\b", sql, re.IGNORECASE)) == 1:
        cm = next((mm for mm in _CLAUSE_AFTER_FROM_RE.finditer(sql)
                   if mm.start() in _top_level_set(sql)), None)
        at = cm.start() if cm else len(sql)
        sql = (sql[:at].rstrip()
               + " FROM (SELECT CAST(0 AS SMALLINT) AS dummy) "
               + sql[at:])
    return _GENSERIES_TVF_RE.sub(gs_sub, sql)


_ZEROS_TVF_RE = re.compile(r"\bzeros(?:_mt)?\(\s*(\d+)\s*\)", re.IGNORECASE)
_VALUES_TVF_RE = re.compile(r"\bvalues\s*\(", re.IGNORECASE)
_CH_SCHEMA_COL_RE = re.compile(
    r"^\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\s+[A-Za-z]")


def _rewrite_values_tvf(sql: str) -> str:
    """values('a T, b U', (..), ..) / values((..), ..) table function
    (reference src/TableFunctions/TableFunctionValues.cpp): rewritten
    to Spark's inline ``VALUES ... AS t(cols)``.  The schema-string
    form carries the given column names; the bare form uses the
    reference's ``c1..cN`` names.  Only applies in FROM position —
    the SQL keyword ``VALUES`` never takes a '(' directly (it is
    followed by a tuple list, which this rewrite re-emits)."""
    out, pos = [], 0
    for m in _VALUES_TVF_RE.finditer(sql):
        prev = sql[:m.start()].rstrip()
        ptok = re.search(r"([A-Za-z_][A-Za-z0-9_]*)$", prev)
        if not (ptok and ptok.group(1).lower() in ("from", "join")):
            continue
        args, after = _parse_args(sql, m.end() - 1)
        if not args:
            continue
        first = args[0].strip()
        if first.startswith("'") and first.endswith("'"):
            cols = [c for c in
                    (_CH_SCHEMA_COL_RE.match(p) for p in
                     first[1:-1].split(","))
                    if c]
            names = [c.group(1) for c in cols]
            tuples = args[1:]
        else:
            arity = (len(_parse_args(first, 0)[0])
                     if first.startswith("(") else 1)
            names = [f"c{i + 1}" for i in range(arity)]
            tuples = args
        rows = ", ".join(t if t.strip().startswith("(") else f"({t})"
                         for t in tuples)
        out.append(sql[pos:m.start()])
        out.append(f"(SELECT * FROM VALUES {rows} "
                   f"AS __v({', '.join(names)}))")
        pos = after
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


# session table metadata for the Dynamic-subcolumn rewrite: refreshed
# by _ch_sql_impl from its ``tables`` dict.  "dynamic" = declared
# Dynamic column names; "tables" = table name → declared column names.
# None = no metadata (bare translate_ch_sql) → heuristic mode.
_DYN_CTX: dict = {"dynamic": None, "tables": None}


_DYN_SUB_RE = re.compile(
    r"\b([A-Za-z_]\w*)\.(?:"
    r"(U?Int(?:8|16|32|64|128|256)|Float(?:32|64)|String|Date32|Date|"
    r"DateTime64|DateTime|Bool)\b(?!\s*\()"
    r"|`([A-Z][^`]*)`)")


def _rewrite_dynamic_subcolumns(seg: str) -> str:
    """``d.UInt64`` / ``d.`LowCardinality(String)``` — Dynamic-column
    typed subcolumn reads (DataTypeDynamic::getSubcolumn): the carried
    value when the dynamic tag equals the requested type, else NULL.
    Type-name-driven (a second path component that IS a CH type name
    can only be this form — struct fields/JSON paths never collide
    with the capitalized type grammar)."""
    def sub(m):
        col, tag = m.group(1), (m.group(2) or m.group(3))
        if col.lower() in ("system", "information_schema"):
            return m.group(0)
        # with session metadata, only rewrite TRACKED dynamic columns;
        # a qualifier that is a known TABLE (``t.Date``) or a known
        # NON-dynamic column is a plain reference — leave it alone
        # (untracked names keep the heuristic for subquery aliases)
        dyn, tcols = _DYN_CTX["dynamic"], _DYN_CTX["tables"]
        if dyn is not None and col not in dyn:
            known = (set().union(*tcols.values()) if tcols else set())
            # qualifier is a table/alias-of-a-table or a real column,
            # or the "tag" is itself a declared column (t.Date where
            # Date is a column of an aliased table)
            if col in (tcols or {}) or col in known or tag in known:
                return m.group(0)
        sniff = _RULES["dynamictype"]([f"`{col}`"])
        base = re.sub(r"\(.*", "", tag)
        if re.fullmatch(r"U?Int\d+", base):
            val = f"try_cast(`{col}` AS BIGINT)"
        elif base in ("Float32", "Float64"):
            val = f"try_cast(`{col}` AS DOUBLE)"
        elif base in ("Date", "Date32"):
            val = f"try_cast(`{col}` AS DATE)"
        elif base in ("DateTime", "DateTime64"):
            val = f"try_cast(`{col}` AS TIMESTAMP)"
        elif base == "Bool":
            val = f"try_cast(`{col}` AS BOOLEAN)"
        else:
            # Array/LowCardinality/composite tags keep the raw string
            # carrier (its text form IS the display; empty()/length()
            # work on it)
            val = f"CAST(`{col}` AS STRING)"
        return f"(CASE WHEN {sniff} = '{tag}' THEN {val} END)"
    return _DYN_SUB_RE.sub(sub, seg)


_OB_SPAN_END_RE = re.compile(
    r"(?i)\b(LIMIT|OFFSET|SETTINGS|FORMAT|UNION|EXCEPT|INTERSECT|"
    r"INTERPOLATE|ROWS|RANGE|GROUPS|FETCH|INTO|WINDOW)\b")


def _rewrite_order_by_null_direction(sql: str) -> str:
    """CH sorts NULLs LAST on ASC and FIRST on DESC (NULL is the
    greatest value — src/Core/SortDescription.h default
    nulls_direction); Spark defaults to the opposite.  Append the
    explicit NULLS direction to every ORDER BY item that doesn't
    already carry one (golden 03270: the missing-path NULL row sorts
    after the values)."""
    out, pos = [], 0
    while True:
        # find the next ORDER BY outside string literals
        m = None
        scan = pos
        while scan < len(sql):
            if sql[scan] in "'\"":
                scan = _skip_string(sql, scan)
                continue
            mm = re.match(r"(?i)ORDER\s+BY(?=\s|\()", sql[scan:])
            if mm and (scan == 0 or not sql[scan - 1].isalnum()):
                m = (scan, scan + mm.end())
                break
            scan += 1
        if m is None:
            out.append(sql[pos:])
            break
        start = m[1]
        # span ends at a clause keyword, an unbalanced ')', or EOS
        depth, i = 0, start
        end = len(sql)
        while i < len(sql):
            c = sql[i]
            if c in "'\"":
                i = _skip_string(sql, i)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif depth == 0:
                km = _OB_SPAN_END_RE.match(sql, i)
                if km and not sql[i - 1].isalnum():
                    end = i
                    break
            i += 1
        span = sql[start:end]
        items = _split_top_commas(span)
        new_items = []
        for it in items:
            body = it.strip()
            if not body or re.search(r"(?i)\bNULLS\s+(FIRST|LAST)\b",
                                     body) \
                    or re.search(r"(?i)\bWITH\s+FILL\b", body):
                new_items.append(it)
                continue
            if re.search(r"(?i)\bDESC(?:ENDING)?\s*$", body):
                new_items.append(f"{body} NULLS FIRST")
            else:
                new_items.append(f"{body} NULLS LAST")
        out.append(sql[pos:start])
        out.append(" ")
        out.append(", ".join(s.strip() for s in new_items))
        if end < len(sql) and not sql[end].isspace():
            out.append(" ")
        pos = end
    return "".join(out)


def _strip_line_comments(sql: str) -> str:
    """Remove ``-- ...`` end-of-line comments (string-aware): inline
    comments carry commas/keywords that break the string rewrites
    (golden 00606 `range(...) AS arr, -- two elements, min --`)."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"`":
            j = _skip_string(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        if c == "-" and sql[i:i + 2] == "--":
            j = sql.find("\n", i)
            if j < 0:
                break
            i = j               # keep the newline
            continue
        out.append(c)
        i += 1
    return "".join(out)


def translate_ch_sql(sql: str, sample_by: dict[str, str] | None = None) -> str:
    """Translate a ClickHouse SELECT into Spark SQL text."""
    sql = sql.strip().rstrip(";")
    if "--" in sql:
        sql = _strip_line_comments(sql)
    if "−" in sql:
        # U+2212 MINUS SIGN parses as the minus operator (reference
        # Lexer.cpp unicode-minus support; golden 02869_unicode_minus)
        sql = _sub_nonstring(sql, lambda seg: seg.replace("−",
                                                          "-"))
    if "‘" in sql or "“" in sql:
        # fancy quotes are string/identifier quotes (Lexer.cpp
        # "fancy quotes" support; golden 03167)
        sql = (sql.replace("‘", "'").replace("’", "'")
               .replace("“", "`").replace("”", "`"))
    sql = _FORMAT_RE.sub("", sql)
    sql = _SETTINGS_RE.sub("", sql)
    # SETTINGS clauses also terminate SUBQUERIES (ParserSelectQuery) —
    # strip `... SETTINGS k = v, ...` when the next token is ')'
    if re.search(r"(?i)\bSETTINGS\s+\w+\s*=", sql):
        sql = _sub_nonstring(sql, lambda seg: re.sub(
            r"(?i)\s+SETTINGS\s+\w+\s*=\s*[^,;()]+"
            r"(\s*,\s*\w+\s*=\s*[^,;()]+)*(?=\s*\))", "", seg))
    # Dynamic subcolumn reads ``d.UInt64`` / ``d.`Array(...)```
    # (reference DataTypeDynamic subcolumns: the value when the
    # dynamic tag matches, NULL otherwise) — over the string carrier,
    # the tag comes from the dynamicType sniffer.  Scans raw text
    # skipping '/" string literals itself: backticked TYPE tags must
    # stay visible (the generic _sub_nonstring treats backticks as
    # strings and would hide them).
    if re.search(r"\.\s*(?:`[A-Z]|U?Int\d|Float(?:32|64)\b|String\b|"
                 r"Date(?:32)?\b|DateTime(?:64)?\b|Bool\b)", sql):
        out_parts = []
        i0 = 0
        while i0 < len(sql):
            c0 = sql[i0]
            if c0 in "'\"":
                j0 = _skip_string(sql, i0)
                out_parts.append(sql[i0:j0])
                i0 = j0
                continue
            j0 = i0
            while j0 < len(sql) and sql[j0] not in "'\"":
                j0 += 1
            out_parts.append(_rewrite_dynamic_subcolumns(sql[i0:j0]))
            i0 = j0
        sql = "".join(out_parts)
    # `INTERVAL '2' AS n minute` — the alias sits BETWEEN the count
    # and the unit (ParserExpressionElement alias rules; golden
    # 01523): move it after the unit
    if re.search(r"(?i)\bINTERVAL\s", sql):
        sql = re.sub(
            r"(?i)\bINTERVAL\s+('\d+'|\d+)\s+AS\s+(`?\w+`?)\s+"
            r"(year|quarter|month|week|day|hour|minute|second)s?\b",
            r"INTERVAL \1 \3 AS \2", sql)
        # a STANDALONE interval literal renders as its COUNT in the
        # reference (IntervalKind value serialization: `SELECT
        # INTERVAL 2 week` prints 2) — Spark would normalize to a
        # different base unit (week → 14 days)
        sql = re.sub(
            r"(?is)^(\s*SELECT\s+)INTERVAL\s+"
            r"(?:'?(\d+)'?\s+"
            r"(?:year|quarter|month|week|day|hour|minute|second)s?"
            r"|'(\d+)\s+"
            r"(?:year|quarter|month|week|day|hour|minute|second)s?')"
            r"(\s+AS\s+`?\w+`?)?\s*$",
            lambda m2: (m2.group(1)
                        + f"CAST({m2.group(2) or m2.group(3)} "
                          f"AS BIGINT)" + (m2.group(4) or "")), sql)
    if re.search(r"(?i)\bGROUP\s+BY\b", sql) \
            and re.search(r"(?i)\sAS\s", sql):
        sql = _rewrite_group_by_aliases(sql)
    # GLOBAL is a distribution hint (broadcast the right side to every
    # shard); Spark's planner owns that decision — drop the keyword
    sql = _GLOBAL_JOIN_RE.sub("", sql)
    # CH join modifier order: SEMI/ANTI come BEFORE the direction
    # (ParserJoin) — Spark wants LEFT SEMI/LEFT ANTI; ALL is CH's
    # default multiplicity keyword and drops
    # CH SEMI LEFT JOIN exposes the matched right row's columns
    # (src/Interpreters/TableJoin — semi keeps one match), which
    # Spark's LEFT SEMI does not: the USING form maps to ANY INNER
    # (same rows, right columns available); the ON form keeps Spark's
    # LEFT SEMI (left columns only)
    sql = re.sub(r"\bSEMI\s+LEFT\s+JOIN\s+"
                 r"((?:`?\w+`?|\([^()]*\))(?:\s+(?:AS\s+)?\w+)?)"
                 r"(\s+USING)\b",
                 r"ANY JOIN \1\2", sql, flags=re.IGNORECASE)
    # SEMI RIGHT JOIN USING: each matched RIGHT row once, paired with
    # ONE matching left row (TableJoin semi, right direction) — inner
    # join against the per-key-deduplicated LEFT side
    sql = re.sub(
        r"(?is)\bFROM\s+(`?\w+`?)(?:\s+(?:AS\s+)?(?!SEMI\b)(\w+))?"
        r"\s+SEMI\s+RIGHT\s+JOIN\s+(`?\w+`?(?:\s+(?:AS\s+)?\w+)?)"
        r"\s+USING\s*\(([^()]*)\)",
        lambda m: (lambda keys, la:
                   f"FROM (SELECT * EXCEPT (__sr_rn, __sr_if, "
                   f"__sr_seq) FROM "
                   f"(SELECT *, row_number() OVER (PARTITION BY {keys}"
                   f" ORDER BY __sr_if, __sr_seq) AS __sr_rn FROM "
                   f"(SELECT *, input_file_name() AS __sr_if, "
                   f"monotonically_increasing_id() AS __sr_seq "
                   f"FROM {m.group(1)})) "
                   f"WHERE __sr_rn = 1) AS {la} "
                   f"JOIN {m.group(3)} USING ({keys})")(
            ", ".join(k.strip().strip("`")
                      for k in m.group(4).split(",")),
            m.group(2) or m.group(1).strip("`")),
        sql)
    sql = re.sub(r"\bSEMI\s+LEFT\s+JOIN\b", "LEFT SEMI JOIN", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bANTI\s+LEFT\s+JOIN\b", "LEFT ANTI JOIN", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bALL\s+(?=(LEFT|RIGHT|FULL|INNER)\s+"
                 r"(OUTER\s+)?JOIN\b)", "", sql, flags=re.IGNORECASE)
    # bare `ALL JOIN` (multiplicity keyword with no direction) = JOIN
    sql = re.sub(r"\bALL\s+(?=JOIN\b)", "", sql, flags=re.IGNORECASE)
    # CH tolerates a trailing comma in the select list (`SELECT a,
    # FROM t` — ParserNotEmptyExpressionList allow_trailing_comma)
    if re.search(r",\s*FROM\b", sql, re.IGNORECASE):
        sql = _sub_nonstring(sql, lambda seg: re.sub(
            r",(\s*FROM\b)", r"\1", seg, flags=re.IGNORECASE))
    # GLOBAL IN / GLOBAL NOT IN: same distribution-hint drop as
    # GLOBAL JOIN (the broadcast decision is the planner's here)
    sql = re.sub(r"\bGLOBAL\s+(?=(NOT\s+)?IN\b)", "", sql,
                 flags=re.IGNORECASE)
    sql = _rewrite_quantified_comparisons(sql)
    # CH table identifiers may start with digits (01504_test); Spark
    # needs them backticked
    sql = _sub_nonstring(sql, lambda seg: re.sub(
        r"(?<![\w`.$\x00])(\d+_\w*[A-Za-z]\w*)", r"`\1`", seg))
    sql = _rewrite_numeric_bool_ops(sql)
    # `x IN tuple(a, b, ...)` — the function-call spelling of the IN
    # set (ParserTupleOfLiterals accepts both); inner tuple() items
    # normalize to paren tuples
    if re.search(r"(?i)\bIN\s+(?:tuple|array)\s*\(", sql):
        def _in_tuple_seg(seg: str) -> str:
            pos = 0
            while True:
                m = re.search(r"(?i)\b(NOT\s+)?IN\s+(?:tuple|array)"
                              r"\s*\(", seg[pos:])
                if m is None:
                    return seg
                open_i = pos + m.end() - 1
                end_i = _matching_paren(seg, open_i)
                if end_i < 0:
                    pos += m.end()
                    continue
                items = [re.sub(r"(?is)^\s*tuple\s*\((.*)\)\s*$",
                                r"(\1)", x)
                         for x in _split_top_commas(
                             seg[open_i + 1:end_i])]
                repl = ((m.group(1) or "") + "IN ("
                        + ", ".join(items) + ")")
                seg = seg[:pos + m.start()] + repl + seg[end_i + 1:]
                pos = pos + m.start() + len(repl)
        sql = _sub_nonstring(sql, _in_tuple_seg)
    sql = _rewrite_tuple_in(sql)
    sql = _rewrite_null_safe_in(sql)
    sql = _rewrite_tuple_eq(sql)
    sql = _rewrite_numbers_tvf(sql)
    sql = _rewrite_values_tvf(sql)
    sql = _rewrite_small_forms(sql)
    # bare inf/nan float literals (reference ParserNumber accepts
    # them as Float64 values — golden 02267 `inf AS value`)
    if re.search(r"(?i)\b(inf|nan)\b", sql):
        sql = _sub_nonstring(sql, lambda seg: re.sub(
            r"(?i)(?<![\w.`])(inf|nan)\b(?!\s*\(|\s*[.`])",
            lambda m: ("double('inf')" if m.group(1).lower() == "inf"
                       else "double('NaN')"), seg))
    sql = _rewrite_double_quoted_idents(sql)
    sql = _rewrite_distinct_on(sql)
    sql = _rewrite_groupby_alias_shadow(sql)
    sql = _fold_totypename_static(sql)
    if re.search(r"(?i)::\s*Object\s*\(", sql):
        sql = _rewrite_object_literal_casts(sql)
    if "/" in sql and "toDecimal" in sql.replace(" ", ""):
        sql = _rewrite_decimal_div(sql)
    sql = _rewrite_inline_aliases(sql)
    sql = _rewrite_null_coalesce_op(sql)
    sql = _rewrite_ternary(sql)
    sql = _rewrite_using_bare(sql)
    # AggregateFunction(...) casts: argMax/argMin String states decode
    # their reference wire format (02477 golden family); every other
    # state carrier is opaque — the cast passes the value through
    # (finalizeAggregation of a finalized carrier is identity)
    if re.search(r"(?i)hex\s*\(\s*arg(max|min)state\s*\(", sql) or \
            re.search(r"(?i)AggregateFunction\s*\(\s*arg(max|min)",
                      sql):
        sql = _rewrite_argmm_state_hex(sql)
    if re.search(r"(?i)\bAggregateFunction\s*\(", sql):
        sql = re.sub(
            r"(?is)CAST\s*\(((?:[^()]|\([^()]*\))*?)\s+AS\s+"
            r"AggregateFunction\s*\((?:[^()]|\([^()]*\))*\)\s*\)",
            r"(\1)", sql)
    # aggregates OVER blockSize(): the whole result is one block in
    # this engine, so max/min/any(blockSize()) = count(*)
    if re.search(r"(?i)\bblockSize\s*\(", sql):
        sql = re.sub(r"(?i)\b(?:max|min|any)\s*\(\s*blockSize"
                     r"\s*\(\s*\)\s*\)", "count(*)", sql)
    sql = _rewrite_cast_types(sql)
    sql = _rewrite_limit_with_ties(sql)
    sql = _rewrite_scalar_with(sql)
    sql = _rewrite_star_replace(sql)
    sql = _rewrite_any_join(sql)
    sql = apply_date_preimage(sql)
    sql = _rewrite_final(sql)
    sql = _rewrite_sample(sql, sample_by)
    sql = _rewrite_prewhere(sql)
    sql = _rewrite_array_join(sql)
    sql = _rewrite_arrayjoin_fn(sql)
    sql = _rewrite_with_totals(sql)
    sql = _rewrite_qualify(sql)

    m = _match_limit_by(sql)
    if m:
        body, n, cols, tail = m
        # ORDER BY inside body (if any) drives the per-group ranking
        om = re.search(r"\sORDER\s+BY\s+(.+)$", body, re.IGNORECASE | re.DOTALL)
        if om:
            order = om.group(1)
            body_no_order = body[:om.start()]
        else:
            order = cols
            body_no_order = body
        proj, rest = _split_select(body_no_order)
        # SELECT * in the ranked subquery keeps ORDER BY / BY columns
        # available even when the projection drops them (CH allows
        # ordering by non-selected columns).
        sql = (f"SELECT {proj} FROM (SELECT *, row_number() OVER "
               f"(PARTITION BY {cols} ORDER BY {order}) AS __rn "
               f"FROM {rest}) WHERE __rn <= {n}")
        if om:
            sql += f" ORDER BY {order}"
        sql += tail

    sql = _fix_like_patterns(sql)
    sql = _rewrite_map_literals(sql)
    sql = _rewrite_tuple_arith(sql)
    sql = _rewrite_datetime_arith(sql)
    # a paren tuple as the WHOLE argument of a single-arg aggregate
    # names its fields positionally (CH Tuple; `max((d, b)).2` —
    # golden 02025): spell tuple() so col1/col2 access resolves
    sql = re.sub(r"(?is)\b(max|min|any|anyLast)\s*\(\s*"
                 r"\((?!\s*(?:SELECT|WITH)\b)([^()]+,[^()]+)\)\s*\)",
                 lambda m: f"{m.group(1)}(tuple({m.group(2)}))", sql)
    if "'(" in sql or re.search(r"(?is)AS\s+(text|String)\s*\)", sql):
        sql = _rewrite_tuple_string_compare(sql)
    if re.search(r"(?i)[(,]\s*null\s*[),]", sql) or \
            re.search(r"(?i)\btuple\s*\((?:[^()]|\([^()]*\))*\)\s*"
                      r"(==|!=|<>|<=|>=|<|>|=)", sql) or \
            re.search(r"(?i)(==|!=|<>|<=|>=|<|>|=)\s*tuple\s*\(",
                      sql):
        sql = _rewrite_tuple_null_equality(sql)
    sql = _rewrite_star_in_args(sql)
    # CH `expr COLLATE 'locale'` (ParserOrderByElement) -> Spark's
    # collate(expr, 'locale') — ICU locales sort identically
    # Spark's ICU collation names use ISO3 country codes
    # (zh_Hans_CHN); CH locales use ISO2 (zh_Hans_CN)
    sql = re.sub(r"(?i)(COLLATE\s+')(\w+_\w+)_CN(')", r"\1\2_CHN\3",
                 sql)
    sql = _sub_nonstring(sql, lambda seg: re.sub(
        r"([`\w.]+(?:\([^()]*\))?)\s+(ASC|DESC)\s+COLLATE\s+"
        r"(\x00\d+\x00|'[\w-]+')",
        r"collate(\1, \3) \2", seg, flags=re.IGNORECASE))
    sql = _sub_nonstring(sql, lambda seg: re.sub(
        r"([`\w.]+(?:\([^()]*\))?)\s+COLLATE\s+(\x00\d+\x00|'[\w-]+')",
        r"collate(\1, \2)", seg, flags=re.IGNORECASE))
    # unmatched LHS shapes: drop the clause (pre-r8 behavior)
    sql = _sub_nonstring(sql, lambda seg: re.sub(
        r"\s+COLLATE\s+(\x00\d+\x00|'[\w-]+')", "", seg,
        flags=re.IGNORECASE))
    sql = _translate_expr(sql)
    # CH allows == for equality (string-aware: '===' literals keep)
    sql = _sub_nonstring(
        sql, lambda seg: re.sub(r"(?<![=!<>])==(?!=)", "=", seg))
    if re.search(r"(?i)\barray\s*\(", sql) and re.search(r"[<>]", sql):
        sql = _rewrite_array_literal_compare(sql)
    # arrayJoin over a Map-returning form (JSONAllPathsWithTypes,
    # distinctJSONPathsAndTypes) iterates (k, v) ENTRIES in the
    # reference; explode the entry array directly — Spark's
    # explode(map) changes the output shape (two columns)
    for sent in ("__chmap_ss__", "__chmap_sa__"):
        while f"explode({sent}(" in sql:
            at0 = sql.index(f"explode({sent}(")
            inner_open = at0 + len(f"explode({sent}")
            inner_close = _matching_paren(sql, inner_open)
            outer_close = _matching_paren(sql, at0 + len("explode"))
            if inner_close < 0 or outer_close != inner_close + 1:
                break
            sql = (sql[:at0] + "explode(map_entries("
                   + sql[inner_open + 1:inner_close]
                   + "))" + sql[outer_close + 1:])
    # remaining sentinel sites carry the map as its ENTRIES array —
    # entry order survives py4j collect as an array but NOT as a
    # MapType (dict conversion scrambles it); the entry structs use
    # the dedicated __ch_k/__ch_v field names (ADVICE r12: a GENUINE
    # Array(Tuple(key, value)) must render as tuples, so the renderer
    # keys on the sentinel names, not on 'key'/'value') and tsvrender
    # prints the array in CH Map text form (golden 03270 sorted path
    # order)
    for sent in ("__chmap_ss__", "__chmap_sa__"):
        while f"{sent}(" in sql:
            at0 = sql.index(f"{sent}(")
            close = _matching_paren(sql, at0 + len(sent))
            if close < 0:
                break
            inner = sql[at0 + len(sent) + 1:close]
            sql = (sql[:at0]
                   + f"transform(map_entries({inner}), __me_ -> "
                   + "named_struct('__ch_k', __me_.key, "
                   + "'__ch_v', __me_.value))"
                   + sql[close + 1:])
    while "explode(map_from_entries(" in sql:
        at0 = sql.index("explode(map_from_entries(")
        inner_open = at0 + len("explode(map_from_entries")
        inner_close = _matching_paren(sql, inner_open)
        outer_close = _matching_paren(sql, at0 + len("explode"))
        if inner_close < 0 or outer_close != inner_close + 1:
            break
        sql = (sql[:at0] + "explode(map_entries(map_from_entries("
               + sql[inner_open + 1:inner_close]
               + ")))" + sql[outer_close + 1:])
    sql = _rewrite_json_struct_compare(sql)
    sql = _wrap_keyless_agg_defaults(sql)
    return sql


# Identity-typed aggregates whose empty-set result is the RETURN
# TYPE's default in the reference; wrapped only when the argument's
# type is syntactically evident (a wrong-typed coalesce would fail
# Spark analysis on valid queries).
_WKAD_IDENT_AGGS = {"min", "max", "first", "last", "first_value",
                    "last_value", "any_value"}
# Moment aggregates: the reference's empty-set value is nan (0/0 in
# Float64 — golden 00572_aggregation_by_empty_set).
_WKAD_NAN_AGGS = {"avg", "mean", "stddev", "stddev_samp", "stddev_pop",
                  "std", "variance", "var_samp", "var_pop", "skewness",
                  "kurtosis", "covar_pop", "covar_samp", "corr"}
_WKAD_NUMERIC_ARG_RE = re.compile(r"^(?=[^eE]*\d)[-+0-9.\s()*/%eE]+$")


def _wkad_item_default(core: str):
    """Spark-SQL default literal for one translated select item that is
    exactly a single aggregate call, or None when no wrap applies."""
    cm = re.match(r"(?is)^([a-z_]\w*)\s*\(", core)
    if cm is None:
        return None
    close = _matching_paren(core, cm.end() - 1)
    if close != len(core) - 1:
        return None                      # trailing OVER(...) / arith
    fn = cm.group(1).lower()
    args = core[cm.end():close]
    # Nullable-typed arguments keep NULL on empty input (the
    # reference's AggregateFunctionNull adapter returns NULL for the
    # no-values state) — skip when the argument is explicitly
    # Nullable-producing.  Bare-column arguments have no evident type
    # or nullability here: deferred to _keyless_identity_defaults_df,
    # which sees the result schema and the declared-Nullable sets.
    if re.search(r"(?i)\b(tonullable|nullif|null_if)\s*\(|\bNULL\b",
                 args):
        return None
    first_arg = (_split_top_commas(args) or [""])[0].strip()
    first_arg = re.sub(r"(?is)^DISTINCT\s+", "", first_arg)
    if re.fullmatch(r"[\w.`]+", first_arg) \
            and not _WKAD_NUMERIC_ARG_RE.match(first_arg):
        return None
    if fn == "sum":
        return "0"
    if fn in _WKAD_NAN_AGGS:
        return "CAST('NaN' AS DOUBLE)"
    if fn in _WKAD_IDENT_AGGS:
        if _WKAD_NUMERIC_ARG_RE.match(first_arg):
            return "0"
        d = _ordefault_default_sql(first_arg, fn)
        # sniffed non-numeric defaults are type-evident; the numeric
        # fallback "0" is NOT (a non-bare expr could still be a date
        # or string, and coalesce(date, 0) fails analysis) — skip
        return d if d != "0" else None
    return None


def _wkad_one_select(p: str) -> str:
    m = re.match(r"(?is)^(\s*)SELECT\s", p)
    if m is None:
        if re.match(r"(?is)^\s*WITH\b", p):
            # WITH ctes SELECT ... : the final top-level SELECT is
            # this scope's projection (CTE bodies were handled by the
            # paren recursion)
            tops = _top_level_set(p)
            sel = None
            for mm in re.finditer(r"(?i)\bSELECT\b", p):
                if mm.start() in tops:
                    sel = mm
            if sel is not None:
                return p[:sel.start()] + _wkad_one_select(p[sel.start():])
        return p
    tops = _top_level_set(p)
    from_i = None
    for mm in re.finditer(r"(?i)\bFROM\b", p):
        if mm.start() in tops:
            from_i = mm.start()
            break
    if from_i is None:
        return p                          # SELECT without FROM: 1 row
    rest = p[from_i:]
    rtops = _top_level_set(rest)
    if any(mm.start() in rtops
           for mm in re.finditer(r"(?i)\bGROUP\s+BY\b", rest)):
        return p
    body = p[m.end():from_i]
    if re.match(r"(?is)^\s*DISTINCT\b", body):
        return p
    new_items, changed = [], False
    for it in _split_top_commas(body):
        txt = it.strip()
        itops = _top_level_set(txt)
        core, alias = txt, None
        for am in re.finditer(r"(?is)\sAS\s", txt):
            if am.start() in itops:
                core, alias = (txt[:am.start()].strip(),
                               txt[am.end():].strip())
        dflt = _wkad_item_default(core)
        if dflt is None:
            new_items.append(txt)
            continue
        name = alias if alias else (
            f"`{core}`" if "`" not in core else None)
        wrapped = f"coalesce({core}, {dflt})"
        new_items.append(f"{wrapped} AS {name}" if name else wrapped)
        changed = True
    if not changed:
        return p
    return p[:m.end()] + ", ".join(new_items) + " " + rest


def _array_lex_cmp_sql(a: str, b: str) -> str:
    """Lexicographic array comparison value (-1/0/1) — the reference's
    generic column ordering compares element-wise, shorter-is-less on
    a common prefix (src/Functions/FunctionsComparison.h
    GenericComparisonImpl over ColumnArray)."""
    n = f"greatest(size({a}), size({b}))"
    step = (f"CASE WHEN __ai > size({a}) THEN -1 "
            f"WHEN __ai > size({b}) THEN 1 "
            f"WHEN element_at({a}, __ai) < element_at({b}, __ai) "
            f"THEN -1 "
            f"WHEN element_at({a}, __ai) > element_at({b}, __ai) "
            f"THEN 1 ELSE 0 END")
    return (f"coalesce(try_element_at(filter(transform("
            f"CASE WHEN {n} = 0 THEN array() "
            f"ELSE sequence(1, {n}) END, __ai -> {step}), "
            f"__ac -> __ac <> 0), 1), 0)")


_ARR_CMP_RHS_RE = re.compile(r"(<=|>=|<(?![=>])|>(?!=))\s*(array\s*\()")


_TUPLE_TEXT_LIT_RE = re.compile(r"'\((?:[^'\\]|\\.)*\)'")
_TUPLE_TEXT_ELEMS_RE = re.compile(
    r"(?is)\(\s*(?:'(?:[^'\\]|\\.)*'|[-+]?\d+(?:\.\d+)?|NULL)"
    r"(?:\s*,\s*(?:'(?:[^'\\]|\\.)*'|[-+]?\d+(?:\.\d+)?|NULL))*\s*\)")
_CMP_BEFORE_RE = re.compile(r"(==|!=|<>|=)\s*$")
_CMP_AFTER_RE = re.compile(r"^\s*(==|!=|<>|=)")


def _tuple_group_span_left(sql: str, end: int):
    """Span of a tuple operand ENDING at ``end`` (exclusive): a
    balanced paren group with a top-level comma, or a tuple(...)
    call.  Returns (start, end) or None."""
    j = end - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j < 0 or sql[j] != ")":
        return None
    depth, k = 0, j
    in_str = False
    while k >= 0:
        c = sql[k]
        if c == "'" and (k == 0 or sql[k - 1] != "\\"):
            in_str = not in_str
        elif not in_str:
            if c == ")":
                depth += 1
            elif c == "(":
                depth -= 1
                if depth == 0:
                    break
        k -= 1
    if k < 0:
        return None
    tm = re.search(r"(?is)\btuple\s*$", sql[:k])
    if tm:
        return tm.start(), j + 1
    pm = re.search(r"([A-Za-z_]\w*)\s*$", sql[:k])
    if pm and pm.group(1).upper() not in _TUPLE_PRE_KEYWORDS:
        return None               # a CALL's argument list, not a tuple
    if not pm and re.search(r"[`)\]]\s*$", sql[:k]):
        return None
    if len(_split_top_commas(sql[k + 1:j])) >= 2:
        return k, j + 1
    return None


_TUPLE_PRE_KEYWORDS = {
    "WHERE", "AND", "OR", "ON", "SELECT", "BY", "WHEN", "THEN",
    "ELSE", "IN", "NOT", "HAVING", "SET", "AS", "UNION", "ALL",
    "DISTINCT", "PREWHERE", "QUALIFY", "FILTER", "XOR"}


def _tuple_group_span_right(sql: str, start: int):
    """Mirror of :func:`_tuple_group_span_left`: a tuple operand
    STARTING at/after ``start``."""
    j = start
    while j < len(sql) and sql[j].isspace():
        j += 1
    tm = re.match(r"(?is)tuple\s*\(", sql[j:])
    if tm:
        close = _matching_paren(sql, j + tm.end() - 1)
        return (j, close + 1) if close > 0 else None
    if j >= len(sql) or sql[j] != "(":
        return None
    close = _matching_paren(sql, j)
    if close < 0:
        return None
    if len(_split_top_commas(sql[j + 1:close])) >= 2:
        return j, close + 1
    return None


def _ch_unescape_literal(body: str) -> str:
    """One unescape level of a CH string literal body (\\' -> ',
    \\\\ -> \\)."""
    out, i = [], 0
    while i < len(body):
        if body[i] == "\\" and i + 1 < len(body):
            out.append(body[i + 1])
            i += 2
        else:
            out.append(body[i])
            i += 1
    return "".join(out)


def _rewrite_tuple_string_compare(sql: str) -> str:
    """A STRING literal compared against a TUPLE re-parses as a tuple
    literal — ``(s1, s2) = '(\\'a\\',\\'b\\')'`` matches the row
    ('a','b') (reference src/Interpreters/convertFieldToType.cpp
    string-to-tuple conversion at comparison; golden
    03371_nullable_tuple_string_comparison) — and ``(s1, s2) =
    CAST((SELECT c1, c2 ...) AS text)`` compares against the
    subquery's tuple directly (the text round-trip is identity)."""
    # string literal side: unquote into a tuple literal
    pos = 0
    while True:
        m = _TUPLE_TEXT_LIT_RE.search(sql, pos)
        if m is None:
            break
        pos = m.end()
        content = _ch_unescape_literal(m.group(0)[1:-1])
        if not _TUPLE_TEXT_ELEMS_RE.fullmatch(content):
            continue
        if len(_split_top_commas(content[1:-1])) == 1:
            # single-element: bare parens would be grouping, not a
            # tuple — spell the constructor out
            content = f"tuple{content}"
        before = _CMP_BEFORE_RE.search(sql[:m.start()])
        if before and _tuple_group_span_left(sql, before.start()):
            sql = sql[:m.start()] + content + sql[m.end():]
            pos = m.start() + len(content)
            continue
        after = _CMP_AFTER_RE.match(sql[m.end():])
        if after and _tuple_group_span_right(sql,
                                             m.end() + after.end()):
            sql = sql[:m.start()] + content + sql[m.end():]
            pos = m.start() + len(content)
    # CAST((SELECT ...) AS text) side: compare tuples directly
    pos = 0
    while True:
        m = re.compile(r"(?is)(==|!=|<>|=)\s*CAST\s*\(").search(sql, pos)
        if m is None:
            break
        pos = m.end()
        if not _tuple_group_span_left(sql, m.start(1)):
            continue
        open_i = sql.rindex("(", m.start(), m.end())
        close_i = _matching_paren(sql, open_i)
        if close_i < 0:
            continue
        inner = sql[open_i + 1:close_i]
        im = re.fullmatch(r"(?is)\s*\(\s*(SELECT\b.*)\)\s+AS\s+"
                          r"(?:text|String)\s*", inner)
        if im is None:
            continue
        sub = im.group(1)
        sm = re.match(r"(?is)SELECT\s+(.*?)\s+(FROM\b.*)$", sub)
        if sm is None or len(_split_top_commas(sm.group(1))) < 2:
            continue
        lspan = _tuple_group_span_left(sql, m.start(1))
        if lspan is None:
            continue
        sub = f"(SELECT ({sm.group(1)}) {sm.group(2)})"
        grp = sql[lspan[0]:lspan[1]]
        o = grp.index("(")
        # bare NULL elements: Spark's struct comparison rejects VOID
        # vs the subquery's element type — text-cast comparisons are
        # string-shaped, so type the NULL
        elems = [("CAST(NULL AS String)"
                  if re.fullmatch(r"(?is)null", e.strip()) else e)
                 for e in _split_top_commas(grp[o + 1:-1])]
        lhs2 = grp[:o + 1] + ", ".join(elems) + ")"
        op = m.group(1)
        if op in ("=", "=="):
            # CH tuple equality propagates element NULLs (NULL result
            # filters the row); Spark struct equality is null-safe —
            # guard each element so NULL never compares equal
            guards = " AND ".join(f"isNotNull({e})" for e in elems)
            full = f"(({lhs2} = {sub}) AND {guards})"
        else:
            full = f"({lhs2} {op} {sub})"
        sql = sql[:lspan[0]] + full + sql[close_i + 1:]
        pos = lspan[0] + len(full)
    return sql


def _le_bytes_sql(n: str, width: int) -> str:
    """Little-endian ``width``-byte BINARY of integer expression
    ``n`` (the reference's fixed-width binary writers,
    src/IO/WriteHelpers.h writeBinaryLittleEndian)."""
    h = f"lpad(hex({n}), {width * 2}, '0')"
    parts = ", ".join(f"substr({h}, {i * 2 + 1}, 2)"
                      for i in reversed(range(width)))
    return f"unhex(concat({parts}))"


def _rewrite_argmm_state_hex(sql: str) -> str:
    """``hex(argMaxState(s, v))`` serializes the state in the
    reference's wire format — LE32(len+1) + bytes + NUL for the
    String, then a presence byte + LE64 for the value column
    (reference SingleValueDataString / SingleValueDataFixed
    serialization, golden 02477_single_value_data_string_regression)
    — and ``finalizeAggregation(CAST(unhex(x) AS
    AggregateFunction(argMax, String, …)))`` decodes it, tolerating
    the 22.8.6 no-NUL regression layout."""
    pos = 0
    while True:
        m = re.compile(r"(?is)\bhex\s*\(\s*arg(max|min)state\s*\(") \
                .search(sql, pos)
        if m is None:
            break
        pos = m.end()
        inner_open = sql.rindex("(", m.start(), m.end())
        inner_close = _matching_paren(sql, inner_open)
        hex_open = sql.index("(", m.start())
        hex_close = _matching_paren(sql, hex_open)
        if inner_close < 0 or hex_close != \
                _skip_ws_end(sql, inner_close + 1):
            continue
        args = _split_top_commas(sql[inner_open + 1:inner_close])
        if len(args) != 2:
            continue
        # the length-prefixed layout below is SingleValueDataString —
        # numeric first args serialize SingleValueDataFixed (no length
        # prefix/NUL), so a clearly numeric-shaped argument keeps the
        # opaque pass-through (r11 ADVICE fix)
        if re.fullmatch(r"\s*-?\d+(\.\d+)?\s*", args[0]) \
                or re.match(r"(?is)\s*(toU?Int\d+|toFloat\d+|"
                            r"number\b|rand\b|CAST\s*\([^)]*AS\s+"
                            r"(?:TINY|SMALL|BIG)?INT)", args[0]):
            continue
        mm = "max" if m.group(1).lower() == "max" else "min"
        s, v = args[0].strip(), args[1].strip()
        picked = f"{mm}_by({s}, {v})"
        repl = (f"hex(concat("
                f"{_le_bytes_sql(f'length({picked}) + 1', 4)}, "
                f"CAST({picked} AS BINARY), X'0001', "
                f"{_le_bytes_sql(f'{mm}({v})', 8)}))")
        sql = sql[:m.start()] + repl + sql[hex_close + 1:]
        pos = m.start() + len(repl)
    # decode: finalizeAggregation over a CAST to
    # AggregateFunction(argMax/argMin, String, ...)
    pos = 0
    while True:
        m = re.compile(
            r"(?is)\bCAST\s*\(\s*unhex\s*\(").search(sql, pos)
        if m is None:
            break
        pos = m.end()
        cast_open = sql.index("(", m.start())
        cast_close = _matching_paren(sql, cast_open)
        if cast_close < 0:
            continue
        body = sql[cast_open + 1:cast_close]
        bm = re.fullmatch(
            r"(?is)\s*(unhex\s*\((?:[^()]|\([^()]*\))*\))\s*"
            r"(?:\s+AS\s+|,\s*')\s*"
            r"AggregateFunction\s*\(\s*arg(?:Max|Min)\s*,\s*String\b"
            r"[^)]*\)\s*'?\s*", body)
        if bm is None:
            continue
        b = f"CAST({bm.group(1)} AS BINARY)"
        h4 = f"hex(substring({b}, 1, 4))"
        n = (f"CAST(conv(concat(substr({h4}, 7, 2), "
             f"substr({h4}, 5, 2), substr({h4}, 3, 2), "
             f"substr({h4}, 1, 2)), 16, 10) AS INT)")
        decoded = (f"IF(substring({b}, 4 + {n}, 1) = X'00', "
                   f"substring({b}, 5, {n} - 1), "
                   f"substring({b}, 5, {n}))")
        repl = (f"CAST(IF(length({b}) = 4 + {n} + 9 AND "
                f"substring({b}, 4 + {n} + 1, 1) = X'01', {decoded}, "
                f"raise_error('Incorrect AggregateFunction state: "
                f"cannot read all data (reference "
                f"CANNOT_READ_ALL_DATA)')) AS STRING)")
        sql = sql[:m.start()] + repl + sql[cast_close + 1:]
        pos = m.start() + len(repl)
    return sql


def _skip_ws_end(sql: str, i: int) -> int:
    """First non-space index at/after ``i`` (for adjacency checks)."""
    while i < len(sql) and sql[i].isspace():
        i += 1
    return i


def _rewrite_star_in_args(sql: str) -> str:
    """``tuple(*, 1)`` / ``cosineDistance(tuple(*, * + 1), ...)`` —
    the reference expands qualified asterisks in ANY expression
    context (src/Analyzer asterisk resolution), not just the SELECT
    list.  Scoped to ``FROM numbers(...)`` sources (the corpus shape),
    where ``*`` is exactly the ``number`` column; ``count(*)`` keeps
    its aggregate meaning."""
    if not re.search(r"(?i)\bFROM\s+numbers\s*\(|"
                     r"\bid\s+AS\s+number\s+FROM\s+range\s*\(", sql) \
            or not re.search(r"[(,]\s*\*", sql):
        return sql
    out: list[str] = []
    stack: list[str] = []
    i = 0
    while i < len(sql):
        c = sql[i]
        if c in "'`\"":
            j = _skip_string(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        if c == "(":
            nm = re.search(r"([A-Za-z_]\w*)\s*$", "".join(out))
            stack.append(nm.group(1).lower() if nm else "")
            out.append(c)
            i += 1
            continue
        if c == ")":
            if stack:
                stack.pop()
            out.append(c)
            i += 1
            continue
        if c == "*" and stack and stack[-1] not in ("count",
                                                    "numbers"):
            prev = "".join(out).rstrip()
            if prev and prev[-1] in "(,":
                out.append("number")
                i += 1
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _rewrite_tuple_null_equality(sql: str) -> str:
    """Syntactic tuple-vs-tuple comparisons expand ELEMENT-WISE with
    CH semantics (reference tupleEquals / generic lexicographic
    comparison, src/Functions/FunctionsComparison.h): equality is the
    AND of element equalities and ordering is the lexicographic
    OR/AND chain — so a NULL element propagates NULL (golden 03371
    ``(s1, null) = ('a', null)`` returns no rows; golden 01353
    nullable tuple orderings return NULL).  Spark's native struct
    comparison is null-safe and would differ on every NULL."""
    pos = 0
    while True:
        m = re.compile(r"(==|!=|<>|<=|>=|<|>|=)").search(sql, pos)
        if m is None:
            return sql
        pos = m.end()
        prev = sql[max(0, m.start() - 1)]
        if prev in "<>!=-" or sql[m.end():m.end() + 1] in "=>":
            continue
        ls = _tuple_group_span_left(sql, m.start())
        rs = _tuple_group_span_right(sql, m.end())
        if ls is None or rs is None:
            continue
        lg, rg = sql[ls[0]:ls[1]], sql[rs[0]:rs[1]]
        li, ri = lg[lg.index("(") + 1:-1], rg[rg.index("(") + 1:-1]
        if re.match(r"(?is)\s*(SELECT|WITH)\b", li) or \
                re.match(r"(?is)\s*(SELECT|WITH)\b", ri):
            continue
        le = [x.strip() for x in _split_top_commas(li)]
        re_ = [x.strip() for x in _split_top_commas(ri)]
        if len(le) != len(re_) or len(le) < 1:
            continue
        if len(le) == 1 and not (lg.lower().lstrip().startswith("tuple")
                                 or rg.lower().lstrip()
                                 .startswith("tuple")):
            continue                # plain parenthesized scalars
        op = m.group(1)
        if op in ("=", "=="):
            full = "(" + " AND ".join(f"({a} = {b})"
                                      for a, b in zip(le, re_)) + ")"
        elif op in ("!=", "<>"):
            full = ("(NOT ("
                    + " AND ".join(f"({a} = {b})"
                                   for a, b in zip(le, re_)) + "))")
        else:
            lt = "<" if op in ("<", "<=") else ">"

            def _lex(i):
                a, b = le[i], re_[i]
                if i == len(le) - 1:
                    return f"({a} {op} {b})"
                return (f"(({a} {lt} {b}) OR "
                        f"(({a} = {b}) AND {_lex(i + 1)}))")
            full = _lex(0)
        sql = sql[:ls[0]] + full + sql[rs[1]:]
        pos = ls[0] + len(full)


def _in_string_literal(sql: str, i: int) -> bool:
    """Is index ``i`` inside a quoted literal?"""
    j = 0
    while j < i:
        if sql[j] in "'\"`":
            j = _skip_string(sql, j)
            if j > i:
                return True
            continue
        j += 1
    return False


def _rewrite_array_literal_compare(sql: str) -> str:
    """``arr > [12.2]`` / ``[1] < arr`` — ordering comparisons with
    an ARRAY LITERAL on either side (already translated to
    array(...)) rewrite to a lexicographic element-wise compare;
    Spark's binary comparison rejects array operands (reference
    src/Functions/FunctionsComparison.h generic ordering).
    String-literal content is never rewritten."""
    pos = 0
    while True:
        m = _ARR_CMP_RHS_RE.search(sql, pos)
        if m is None:
            break
        if _in_string_literal(sql, m.start()):
            pos = m.end()
            continue
        open_i = sql.index("(", m.end(1))
        end_i = _matching_paren(sql, open_i)
        if end_i < 0:
            break
        rhs = sql[m.start(2):end_i + 1]
        lstart = _expr_left_boundary(sql, m.start())
        lhs = sql[lstart:m.start()].strip()
        if not lhs or lhs.endswith(("=", "<", ">", "!", "+", "-",
                                    "*", "/", "%", ",")):
            pos = end_i + 1
            continue
        op = m.group(1)
        repl = f"({_array_lex_cmp_sql(f'({lhs})', rhs)} {op} 0)"
        sql = sql[:lstart] + repl + sql[end_i + 1:]
        pos = lstart + len(repl)
    # mirrored: the array literal on the LEFT of the operator
    pos = 0
    while True:
        m = re.compile(r"(?i)\barray\s*\(").search(sql, pos)
        if m is None:
            return sql
        pos = m.end()
        if _in_string_literal(sql, m.start()):
            continue
        end_i = _matching_paren(sql, m.end() - 1)
        if end_i < 0:
            return sql
        om = re.match(r"\s*(<=|>=|<(?![=>])|>(?!=))\s*",
                      sql[end_i + 1:])
        if om is None:
            continue
        rs = end_i + 1 + om.end()
        re_b = _expr_right_boundary(sql, rs)
        rhs = sql[rs:re_b].strip()
        if not rhs or re.match(r"(?i)array\s*\(", rhs):
            continue               # array-vs-array handled above
        lhs = sql[m.start():end_i + 1]
        op = om.group(1)
        repl = f"({_array_lex_cmp_sql(lhs, f'({rhs})')} {op} 0)"
        sql = sql[:m.start()] + repl + sql[re_b:]
        pos = m.start() + len(repl)


def _wrap_keyless_agg_defaults(sql: str) -> str:
    """Keyless aggregation over an EMPTY input returns the aggregate's
    empty-state value in the reference — count/uniq 0, sum 0, min/max/
    any the return-type default, avg/var/stddev nan, groupArray [] —
    not SQL-standard NULL (reference src/AggregateFunctions/
    IAggregateFunction.h insertResultInto over empty state; golden
    00572_aggregation_by_empty_set, 01559_aggregate_null_for_empty_fix).
    Spark returns NULL: wrap each top-level single-aggregate item of
    every GROUP-BY-less SELECT scope in coalesce(agg, default).  With
    ``aggregate_functions_null_for_empty=1`` every aggregate acts as
    -OrNull, which IS Spark's native NULL — no wrap."""
    if str(SESSION_SETTINGS.get("aggregate_functions_null_for_empty",
                                "0")).strip().lower() in ("1", "true"):
        return sql
    return _wkad_scope(sql)


def _wkad_scope(s: str) -> str:
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            j = _skip_string(s, i)
            out.append(s[i:j])
            i = j
            continue
        if c == "(":
            j = _matching_paren(s, i)
            if j < 0:
                out.append(s[i:])
                break
            inner = s[i + 1:j]
            out.append("(" + (_wkad_scope(inner)
                              if re.match(r"(?is)^\s*(SELECT|WITH)\b",
                                          inner) else inner) + ")")
            i = j + 1
            continue
        out.append(c)
        i += 1
    s = "".join(out)
    # top-level set operators bound independent SELECT scopes
    tops = _top_level_set(s)
    pieces, last = [], 0
    for m in re.finditer(r"(?i)\b(UNION(?:\s+(?:ALL|DISTINCT))?"
                         r"|INTERSECT(?:\s+ALL)?|EXCEPT(?:\s+ALL)?)\b",
                         s):
        if m.start() in tops:
            pieces.append(_wkad_one_select(s[last:m.start()]))
            pieces.append(m.group(0))
            last = m.end()
    pieces.append(_wkad_one_select(s[last:]))
    return "".join(pieces)


_WITH_FILL_RE = re.compile(
    r"ORDER\s+BY\s+(`?\w+`?)\s+(?:ASC\s+|DESC\s+)?WITH\s+FILL"
    r"(?:\s+FROM\s+(\S+))?(?:\s+TO\s+(\S+))?(?:\s+STEP\s+(\S+))?"
    r"(?:\s+LIMIT\s+(\d+))?\s*$",
    re.IGNORECASE)


_WITH_FILL_MULTI_RE = re.compile(
    r"ORDER\s+BY\s+([^()]*\bWITH\s+FILL\b[^()]*)$", re.IGNORECASE)
_FILL_ITEM_RE = re.compile(
    r"^(`?\w+`?)\s*(ASC|DESC)?\s*"
    r"(?:(WITH\s+FILL)(?:\s+FROM\s+(\S+))?(?:\s+TO\s+(\S+))?"
    r"(?:\s+STEP\s+(\S+))?)?$",
    re.IGNORECASE)

_SUBQ_COUNTER = [0]


def _matching_paren(text: str, start: int) -> int:
    depth = 0
    i = start
    n = len(text)
    while i < n:
        c = text[i]
        if c in "'\"`":
            i = _skip_string(text, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


def _shadow_array_join_aliases(spark, text: str) -> str:
    """An ARRAY JOIN alias SHADOWS a same-named source column in the
    reference (ExpressionAnalyzer array-join alias scope); Spark's
    lateral view makes it AMBIGUOUS instead.  When the FROM is a plain
    registered table and an alias collides with one of its columns,
    exclude the shadowed column from the source."""
    am = re.search(r"(?i)\b(?:LEFT\s+)?ARRAY\s+JOIN\b", text)
    if am is None:
        return text
    fms = [m for m in re.finditer(r"(?i)\bFROM\s+`?(\w+)`?", text)
           if m.end() <= am.start()]
    if not fms:
        return text
    fm = fms[-1]
    clause = text[am.end():]
    stop = re.search(r"(?i)\b(WHERE|GROUP|ORDER|LIMIT|HAVING|SETTINGS|"
                     r"UNION|INNER|LEFT|RIGHT|FULL|JOIN|FORMAT)\b",
                     clause)
    clause = clause[:stop.start()] if stop else clause
    aliases = {a.strip("`")
               for a in re.findall(r"(?i)\bAS\s+`?(\w+)`?", clause)}
    if not aliases:
        return text
    try:
        cols = set(spark.table(fm.group(1)).columns)
    except Exception:
        return text
    shadowed = sorted(aliases & cols)
    if not shadowed:
        return text
    excl = ", ".join(f"`{c}`" for c in shadowed)
    sub = (f"FROM (SELECT * EXCEPT ({excl}) FROM `{fm.group(1)}`) "
           f"AS {fm.group(1)}")
    return text[:fm.start()] + sub + text[fm.end():]


def _rewrite_joinget(text: str, tables) -> str:
    """joinGet[OrNull]('table', 'value', key...) (StorageJoin.cpp
    joinGet): scalar lookup against a session Join-engine table →
    correlated scalar subquery on the registered view (Catalyst plans
    it as a broadcast left join)."""
    out = []
    i = 0
    pat = re.compile(r"(?i)\bjoinGet(OrNull)?\s*\(")
    while True:
        m = pat.search(text, i)
        if m is None:
            out.append(text[i:])
            return "".join(out)
        args, after = _parse_args(text, text.index("(", m.start()))
        tname = args[0].strip().strip("'\"`").split(".")[-1]
        t = tables.get(tname)
        keys = getattr(t, "key_cols", None) if t is not None else None
        if not keys or len(args) < 2 + len(keys):
            out.append(text[i:after])
            i = after
            continue
        col = args[1].strip().strip("'\"")
        conds = " AND ".join(
            f"`{k}` = ({args[2 + n]})" for n, k in enumerate(keys))
        out.append(text[i:m.start()])
        repl = f"(SELECT any(`{col}`) FROM `{tname}` WHERE {conds})"
        if not m.group(1):
            # plain joinGet yields the value type's DEFAULT on a miss
            # (StorageJoin::joinGet); only joinGetOrNull yields NULL
            dt = None
            ddl = _decls(t).schema_ddl
            dm = re.search(rf"`?{re.escape(col)}`?\s+(\w+)", ddl)
            if dm:
                dt = dm.group(1).lower()
            else:
                try:
                    dt = {f.name: f.dataType.simpleString()
                          for f in t.read().schema.fields}.get(col)
                except Exception:
                    dt = None
            if dt:
                base = dt.split("(")[0]
                dflt = {"string": "''", "varchar": "''",
                        "date": "DATE '1970-01-01'",
                        "timestamp":
                            "TIMESTAMP '1970-01-01 00:00:00'"}.get(
                    base,
                    "0" if base in ("tinyint", "smallint", "int",
                                    "bigint", "long", "float",
                                    "double", "decimal") else None)
                if dflt:
                    repl = f"coalesce({repl}, {dflt})"
        out.append(repl)
        i = after
    return "".join(out)


def _materialize_nested_selects(spark, text, sample_by, tables):
    """A FROM/JOIN-position subquery carrying WITH FILL / WITH TOTALS
    can't be nested textually (those clauses become DataFrame operators
    here) — run it through ch_sql recursively, register the result as
    a temp view, and substitute the view name (the view is lazy, so
    this adds no materialization barrier)."""
    pat = re.compile(r"(?is)\b(FROM|JOIN)\s*\(")
    changed = True
    while changed:
        changed = False
        for m in pat.finditer(text):
            start = text.index("(", m.start())
            j = _matching_paren(text, start)
            if j < 0:
                continue
            inner = text[start + 1:j].strip()
            if not re.match(r"(?is)^(SELECT|WITH)\b", inner):
                continue
            if not re.search(r"(?is)\bWITH\s+(FILL|TOTALS|TIES)\b",
                                 inner):
                continue
            df = ch_sql(spark, inner, sample_by=sample_by, tables=tables)
            _SUBQ_COUNTER[0] += 1
            vname = f"__chsub_{_SUBQ_COUNTER[0]}"
            df.createOrReplaceTempView(vname)
            text = text[:start] + " " + vname + " " + text[j + 1:]
            changed = True
            break
    return text


def _fill_value(tok: str | None):
    """FROM/TO literal → python value: numbers, toDate[Time]('…'),
    bare quoted date strings."""
    if tok is None:
        return None
    import datetime as _dtm
    t = tok.strip()
    while t.startswith("(") and t.endswith(")") and len(t) > 2:
        t = t[1:-1].strip()
    m = re.match(r"(?i)^toDate(Time)?(?:64)?\s*\(\s*'([^']+)'", t)
    if m:
        sv = m.group(2)
        if m.group(1) or len(sv) > 10:
            return _dtm.datetime.fromisoformat(sv)
        return _dtm.date.fromisoformat(sv)
    if t.startswith("'") and t.endswith("'"):
        sv = t[1:-1]
        try:
            return (_dtm.date.fromisoformat(sv) if len(sv) <= 10
                    else _dtm.datetime.fromisoformat(sv))
        except ValueError:
            return None
    try:
        f = float(t)
        return int(f) if f.is_integer() else f
    except ValueError:
        return None


def _fill_step(tok: str | None):
    """STEP literal → numeric step or interval string for
    fill.filling_transform's _make_adder."""
    if tok is None:
        return None
    t = tok.strip().strip("'")
    try:
        f = float(t)
        return int(f) if f.is_integer() else f
    except ValueError:
        pass
    if re.match(r"(?i)^(interval\s+)?-?\d+\s*[a-z]+$", t):
        return t
    m = re.match(r"(?i)^toInterval([A-Za-z]+)\s*\(\s*(-?\d+)\s*\)$",
                 t)
    if m:
        return f"{m.group(2)} {m.group(1).lower()}"
    return "__BAD__"


def _parse_fill_item(item: str):
    """One ORDER BY item: returns (col, desc, spec|None) where spec is
    (step, from, to) for WITH FILL keys; None for plain sort keys;
    raises nothing — returns ``False`` on unsupported shapes."""
    im = re.match(r"^(`?[\w.]+`?)\s*(ASC|DESC)?\s*(.*)$",
                  item.strip(), re.IGNORECASE | re.DOTALL)
    if im is None:
        # EXPRESSION sort key (`-x ASC WITH FILL ...` — golden
        # 02019): split from the right; the caller maps the
        # expression text onto the matching projection item
        wm = re.search(r"(?is)\bWITH\s+FILL\b", item)
        head = item[:wm.start()] if wm else item
        dm = re.search(r"(?is)\s(ASC|DESC)\s*$", head)
        expr_txt = (head[:dm.start()] if dm else head).strip()
        if not expr_txt:
            return False
        im = None
        col = expr_txt
        desc = bool(dm) and dm.group(1).upper() == "DESC"
        rest = item[wm.start():].strip() if wm else ""
    else:
        col = im.group(1).strip("`")
        desc = (im.group(2) or "").upper() == "DESC"
        rest = im.group(3).strip()
    if not rest:
        return (col, desc, None)
    fm = re.match(r"(?is)^WITH\s+FILL\s*(.*)$", rest)
    if fm is None:
        return False
    s = fm.group(1).strip()
    kv: dict = {}
    while s:
        km = re.match(r"(?is)^(FROM|TO|STEP|STALENESS)\s+(.*)$", s)
        if km is None:
            return False
        kw, s2 = km.group(1).lower(), km.group(2)
        vm = re.search(r"(?i)\b(FROM|TO|STEP|STALENESS)\b", s2)
        if vm:
            kv[kw], s = s2[:vm.start()].strip(), s2[vm.start():].strip()
        else:
            kv[kw], s = s2.strip(), ""
    step = _fill_step(kv.get("step"))
    stale = _fill_step(kv.get("staleness"))
    fv, tv = _fill_value(kv.get("from")), _fill_value(kv.get("to"))
    if step == "__BAD__" or stale == "__BAD__" \
            or (kv.get("from") is not None and fv is None) \
            or (kv.get("to") is not None and tv is None):
        return False
    return (col, desc, (step, fv, tv, stale))


def _match_order_fill(text: str):
    """Detect a trailing top-level ``ORDER BY ... WITH FILL ...
    [INTERPOLATE ...] [LIMIT n]`` clause; returns (clause_start, specs,
    prefix, order_all, interpolate, limit) or None."""
    if not re.search(r"(?i)\bWITH\s+FILL\b", text):
        return None
    tops = _top_level_set(text)
    last = None
    for mm in re.finditer(r"(?i)\bORDER\s+BY\b", text):
        if mm.start() in tops:
            last = mm
    if last is None:
        return None
    tail = text[last.end():].strip()
    if not re.search(r"(?i)\bWITH\s+FILL\b", tail):
        return None
    fsettings: dict = {}
    sm = re.search(r"(?is)\bSETTINGS\s+(\w+\s*=.*)$", tail)
    if sm:
        for kvp in _split_top_commas(sm.group(1)):
            pm = re.match(r"\s*(\w+)\s*=\s*(.+?)\s*$", kvp)
            if pm:
                fsettings[pm.group(1).lower()] = pm.group(2).strip("'")
        tail = tail[:sm.start()].strip()
    limit_n = 0
    lm = re.search(r"(?is)\bLIMIT\s+(\d+)\s*$", tail)
    if lm:
        limit_n = int(lm.group(1))
        tail = tail[:lm.start()].strip()
    interp: dict | None = None
    im = re.search(r"(?is)\bINTERPOLATE\b\s*(\()?", tail)
    if im:
        if im.group(1):
            close = _matching_paren(tail, im.end() - 1)
            if close < 0 or tail[close + 1:].strip():
                return None
            interp = {}
            for it in _split_top_commas(tail[im.end():close]):
                am = re.match(r"(?is)^\s*`?(\w+)`?\s*"
                              r"(?:AS\s+(.+))?$", it.strip())
                if am is None:
                    return None
                interp[am.group(1)] = (am.group(2).strip()
                                       if am.group(2) else None)
        else:
            if tail[im.end():].strip():
                return None
            interp = {"*": None}
        tail = tail[:im.start()].strip()
    specs, prefix, order_all = [], [], []
    for item in _split_top_commas(tail):
        parsed = _parse_fill_item(item)
        if parsed is False:
            return None
        col, desc, spec = parsed
        order_all.append((col, desc))
        if spec is not None:
            specs.append((col, spec[0] if spec[0] is not None else 1,
                          spec[1], spec[2], desc, spec[3]))
        elif not specs:
            prefix.append((col, desc))
    if not specs:
        return None
    # validations the reference rejects with
    # INVALID_WITH_FILL_EXPRESSION (FillingTransform::transformHeader)
    seen: set = set()
    for c, _d in order_all:
        if c in seen:
            raise ValueError(
                f"WITH FILL: duplicate ORDER BY key {c!r}")
        seen.add(c)
    for sp in specs:
        if sp[5] is not None and sp[2] is not None:
            raise ValueError("WITH FILL: STALENESS cannot be used "
                             "together with FROM")
        if sp[5] is not None and not isinstance(sp[5], str):
            if (sp[4] and sp[5] > 0) or (not sp[4] and sp[5] < 0):
                raise ValueError("WITH FILL: STALENESS sign must "
                                 "match the sort direction")
    return (last.start(), specs, prefix, order_all, interp, limit_n,
            fsettings)


def _fill_literal(tok: str | None):
    if tok is None:
        return None
    f = float(tok)
    return int(f) if f.is_integer() else f


_SCALAR_WITH_RE = re.compile(r"^\s*WITH\s+", re.IGNORECASE)


def _rewrite_scalar_with(sql: str) -> str:
    """CH scalar WITH aliases — ``WITH <expr> AS <name>, ... SELECT``
    (reference ParserWithElement: CH allows constant/expression aliases
    alongside subquery CTEs; Spark's WITH takes only subqueries).
    Scalar items are removed from the WITH list and substituted as
    parenthesized expressions at each use site; subquery CTEs
    (``name AS (SELECT ...)``) stay."""
    m = _SCALAR_WITH_RE.match(sql)
    if m is None:
        # a parenthesized SUBQUERY may open with its own scalar WITH
        # (golden 00606 `FROM ( WITH range(...) AS arr SELECT ... )`)
        # — rewrite each such group in place
        out2, i2 = [], 0
        changed2 = False
        while i2 < len(sql):
            c2 = sql[i2]
            if c2 in "'\"":
                j2 = _skip_string(sql, i2)
                out2.append(sql[i2:j2])
                i2 = j2
                continue
            if c2 == "(" and re.match(r"\s*WITH\b", sql[i2 + 1:],
                                      re.IGNORECASE):
                close2 = _matching_paren(sql, i2)
                if close2 > 0:
                    inner2 = _rewrite_scalar_with(
                        sql[i2 + 1:close2].strip())
                    out2.append("(" + inner2 + ")")
                    i2 = close2 + 1
                    changed2 = True
                    continue
            out2.append(c2)
            i2 += 1
        return "".join(out2) if changed2 else sql
    # find the end of the WITH item list: the top-level SELECT
    tops = _top_level_set(sql)
    sm = next((mm for mm in re.finditer(r"\bSELECT\b", sql, re.IGNORECASE)
               if mm.start() in tops), None)
    if sm is None:
        return sql
    items = _split_top_commas(sql[m.end():sm.start()])
    keep, subs = [], {}
    for item in items:
        it = item.strip()
        if re.match(r"^`?\w+`?\s+AS\s*\(", it, re.IGNORECASE):
            keep.append(it)  # subquery CTE
            continue
        am = re.search(r"^(.*\S)\s+AS\s+`?(\w+)`?$", it,
                       re.IGNORECASE | re.DOTALL)
        if am:  # scalar expression or scalar subquery alias
            subs[am.group(2)] = am.group(1).strip()
        else:
            keep.append(it)
    if not subs:
        return sql
    # def-to-def references: a later WITH item may use an earlier one
    # (`range(..) AS arr, arrayMap(.., arr) AS arr2` — golden 00606);
    # expand earlier defs into later definitions first
    names_in_order = list(subs)
    for k4, nm4 in enumerate(names_in_order):
        for prev4 in names_in_order[:k4]:
            pat4 = re.compile(
                rf"(?<![\w.`]){re.escape(prev4)}(?![\w`])")
            subs[nm4] = pat4.sub(
                lambda _m: f"({subs[prev4]})", subs[nm4])
    body = sql[sm.start():]
    for name, expr in subs.items():
        # substitute only OUTSIDE string literals — a bare re.sub would
        # rewrite alias-shaped text inside '...' constants.
        pat = re.compile(rf"(?<![\w.`]){re.escape(name)}(?![\w`])")
        out, i, n = [], 0, len(body)
        while i < n:
            if body[i] in "'\"":
                j = _skip_string(body, i)
                out.append(body[i:j])
                i = j
                continue
            m2 = pat.match(body, i)
            if m2:
                out.append(f"({expr})")
                i = m2.end()
                continue
            out.append(body[i])
            i += 1
        body = "".join(out)
    head = f"WITH {', '.join(keep)} " if keep else ""
    return head + body


_STAR_REPLACE_RE = re.compile(r"\*\s+REPLACE\s*\(", re.IGNORECASE)


def _rewrite_star_replace(sql: str) -> str:
    """``SELECT * REPLACE (expr AS col, ...)`` (reference star modifier,
    src/Parsers/ParserTablesInSelectQuery / ASTAsterisk REPLACE) →
    ``* EXCEPT (cols...), expr AS col, ...``.  Spark supports EXCEPT
    natively; the replaced columns move to the end of the projection
    (CH keeps their position — positional divergence only, names and
    values identical)."""
    m = _STAR_REPLACE_RE.search(sql)
    if m is None:
        return sql
    open_paren = m.end() - 1
    items, after = _parse_args(sql, open_paren)
    names = []
    for item in items:
        am = re.search(r"\bAS\s+`?(\w+)`?\s*$", item.strip(), re.IGNORECASE)
        if am is None:
            raise ValueError(f"REPLACE item {item!r} needs 'expr AS col'")
        names.append(am.group(1))
    repl = (f"* EXCEPT ({', '.join(names)}), "
            + ", ".join(i.strip() for i in items))
    return _rewrite_star_replace(sql[:m.start()] + repl + sql[after:])


_GLOBAL_JOIN_RE = re.compile(r"\bGLOBAL\s+(?=(ANY|ALL|ASOF|LEFT|RIGHT|INNER|FULL|CROSS|SEMI|ANTI|JOIN)\b)",
                             re.IGNORECASE)

_ASOF_RE = re.compile(
    r"\bFROM\s+`?(\w+)`?(?:\s+AS\s+(\w+)|\s+(?!ASOF\b)(\w+))?"
    r"\s+ASOF\s+(LEFT\s+)?JOIN\s+`?(\w+)`?(?:\s+AS\s+(\w+)|\s+(?!ON\b)(\w+))?"
    r"\s+ON\s+(.*?)(?=\s+(?:WHERE|GROUP|ORDER|LIMIT|QUALIFY|HAVING)\b|$)",
    re.IGNORECASE | re.DOTALL)

_ANY_JOIN_HEAD_RE = re.compile(
    r"\b(LEFT\s+)?ANY\s+(LEFT\s+|INNER\s+)?JOIN\s+", re.IGNORECASE)


def _rewrite_any_join(sql: str) -> str:
    """``[LEFT] ANY [LEFT] JOIN t USING (k, ...)`` (reference join
    strictness, src/Parsers/ParserJoin — ANY keeps at most one right row
    per key) → a join against a per-key-deduplicated subquery.  Bare
    ``ANY JOIN`` has INNER strictness in ClickHouse (unmatched left rows
    are dropped); only the LEFT forms keep them.  Which right row is kept
    is unspecified in the reference and unspecified here too (pick-any
    contract; operators.any_join offers an explicit order for
    deterministic refinement).  USING form only; the ON form needs the
    DataFrame API.  Scanner-based right-operand parse (a regex caps the
    paren depth; subqueries nest arbitrarily — golden 01504)."""
    out, pos = [], 0
    while True:
        m = _ANY_JOIN_HEAD_RE.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            break
        # right operand: bare name or a balanced parenthesized
        # subquery, then an optional alias, then USING (keys)
        p = m.end()
        if p < len(sql) and sql[p] == "(":
            close = _matching_paren(sql, p)
            if close < 0:
                out.append(sql[pos:m.end()])
                pos = m.end()
                continue
            src = sql[p:close + 1]
            rest = close + 1
            am = re.match(r"\s+(?:AS\s+)?(?!USING\b)(`?\w+`?)",
                          sql[rest:], re.IGNORECASE)
            alias = am.group(1).strip("`") if am else "__any_r"
            if am:
                rest += am.end()
        else:
            nm = re.match(r"`?\w+`?", sql[p:])
            if nm is None:
                out.append(sql[pos:m.end()])
                pos = m.end()
                continue
            src = nm.group(0)
            alias = src.strip("`")
            rest = p + nm.end()
            am = re.match(r"\s+(?:AS\s+)?(?!USING\b|ON\b)(`?\w+`?)",
                          sql[rest:], re.IGNORECASE)
            if am:
                alias = am.group(1).strip("`")
                rest += am.end()
        um = re.match(r"\s+USING\s*\(([^)]*)\)", sql[rest:],
                      re.IGNORECASE)
        if um is None:
            # ON form (golden 02302 `ANY LEFT JOIN (...) AS s2 ON
            # l = r`): dedupe the right side per its JOIN-KEY
            # expressions — ANY keeps at most one right row per key
            onm = re.match(r"\s+ON\s+", sql[rest:], re.IGNORECASE)
            rkeys = []
            if onm is not None:
                ce = len(sql)
                stop2 = re.compile(
                    r"(?i)\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|"
                    r"LIMIT|SETTINGS|UNION|QUALIFY|WINDOW)\b|"
                    r"\b(?:INNER|LEFT|RIGHT|FULL|CROSS|ANY|SEMI|"
                    r"ANTI|ASOF)?\s*JOIN\b")
                sm2 = next((mm2 for mm2 in
                            stop2.finditer(sql, rest + onm.end())
                            if mm2.start() in _top_level_set(sql)),
                           None)
                if sm2 is not None:
                    ce = sm2.start()
                cond = sql[rest + onm.end():ce]
                # right-side output names: the subquery's top-level
                # SELECT aliases (bare-table rights keep only
                # alias-qualified detection)
                rcols = set()
                if src.startswith("("):
                    body3 = re.sub(r"(?is)^\(\s*SELECT\s+", "",
                                   src[:-1])
                    tops3 = _top_level_set(body3)
                    fm3 = next((mm3 for mm3 in re.finditer(
                        r"(?i)\bFROM\b", body3)
                        if mm3.start() in tops3), None)
                    if fm3 is not None:
                        body3 = body3[:fm3.start()]
                    for it3 in _split_top_commas(body3):
                        am3 = re.search(r"\bAS\s+`?(\w+)`?\s*$", it3,
                                        re.IGNORECASE)
                        if am3:
                            rcols.add(am3.group(1).lower())
                        elif re.fullmatch(r"`?\w+`?", it3.strip()):
                            rcols.add(it3.strip().strip("`").lower())
                for part3 in re.split(r"(?i)\bAND\b", cond):
                    em3 = re.match(r"\s*(.+?)\s*=\s*(.+?)\s*$", part3)
                    if em3 is None:
                        continue
                    for side in (em3.group(1), em3.group(2)):
                        qm3 = re.fullmatch(
                            rf"`?{re.escape(alias)}`?\s*\.\s*"
                            rf"`?(\w+)`?", side.strip())
                        if qm3:
                            rkeys.append(qm3.group(1))
                        elif re.fullmatch(r"`?\w+`?", side.strip()) \
                                and side.strip().strip("`").lower() \
                                in rcols:
                            rkeys.append(side.strip().strip("`"))
            if not rkeys:
                out.append(sql[pos:m.end()])
                pos = m.end()
                continue
            pk = ", ".join(f"`{k}`" for k in rkeys)
            how = ("LEFT JOIN" if "LEFT" in
                   ((m.group(1) or "") + (m.group(2) or "")).upper()
                   else "JOIN")
            out.append(sql[pos:m.start()])
            out.append(
                f"{how} (SELECT * EXCEPT (__any_rn, __any_if, "
                f"__any_seq) "
                f"FROM (SELECT *, row_number() OVER (PARTITION BY "
                f"{pk} ORDER BY __any_if, __any_seq) AS __any_rn "
                f"FROM (SELECT *, input_file_name() AS __any_if, "
                f"monotonically_increasing_id() AS "
                f"__any_seq FROM {src})) "
                f"WHERE __any_rn = 1) AS {alias} ON ")
            pos = rest + onm.end()
            continue
        keys = ", ".join(k.strip().strip("`")
                         for k in um.group(1).split(","))
        how = ("LEFT JOIN"
               if "LEFT" in ((m.group(1) or "") + (m.group(2) or ""))
               .upper() else "JOIN")
        out.append(sql[pos:m.start()])
        # the kept row is the FIRST in scan order (part files list
        # oldest-first, parquet preserves row order) — the reference
        # surfaces the first matching row in part order (golden
        # 01031 semi left: x=2 pairs with b1, not b2)
        out.append(f"{how} (SELECT * EXCEPT (__any_rn, __any_if, "
                   f"__any_seq) "
                   f"FROM (SELECT *, row_number() OVER (PARTITION BY "
                   f"{keys} ORDER BY __any_if, __any_seq) AS __any_rn "
                   f"FROM (SELECT *, input_file_name() AS __any_if, "
                   f"monotonically_increasing_id() AS "
                   f"__any_seq FROM {src})) "
                   f"WHERE __any_rn = 1) AS {alias} USING ({keys})")
        pos = rest + um.end()
    return "".join(out)


def _rewrite_asof_join(spark, sql: str) -> str:
    """``FROM a ASOF [LEFT] JOIN b ON a.k = b.k AND a.ts >= b.ts``
    (reference ASOF strictness, src/Interpreters/joinDispatch.h) — the
    matched section is executed through operators.asof_join (bucketed
    equi-join, never a range join) and re-registered as a temp view the
    remaining SQL selects from."""
    m = _ASOF_RE.search(sql)
    if m is None:
        return sql
    from ..operators.joins import asof_join
    lt = m.group(1)
    la = m.group(2) or m.group(3) or lt
    how = "left" if m.group(4) else "inner"
    rt = m.group(5)
    ra = m.group(6) or m.group(7) or rt
    conds = [c.strip() for c in re.split(r"\bAND\b", m.group(8),
                                         flags=re.IGNORECASE)]
    on, ineq = [], None
    qual = re.compile(rf"^(?:{la}|{lt})\.(\w+)\s*(=|>=|<=|>|<)\s*"
                      rf"(?:{ra}|{rt})\.(\w+)$", re.IGNORECASE)
    for c in conds:
        mm = qual.match(c.strip())
        if not mm:
            raise NotImplementedError(
                f"ASOF JOIN condition {c!r} not of the form l.col OP r.col")
        lcol, op, rcol = mm.groups()
        if op == "=":
            if lcol != rcol:
                raise NotImplementedError(
                    "ASOF equi-keys must share a column name in SQL form")
            on.append(lcol)
        else:
            ineq = (lcol, op, rcol)
    if ineq is None:
        raise NotImplementedError("ASOF JOIN needs one inequality condition")
    left, right = spark.table(lt), spark.table(rt)
    # An unqualified name present on both sides resolves to the left one.
    values = [c for c in right.columns
              if c not in on and c != ineq[2] and c not in left.columns]
    out = asof_join(left, right, on=on, left_ts=ineq[0], right_ts=ineq[2],
                    inequality=ineq[1], right_values=values, how=how)
    view = f"__asof_{lt}_{rt}"
    out.createOrReplaceTempView(view)
    return sql[:m.start()] + f"FROM {view}" + sql[m.end():]


_EXPLAIN_RE = re.compile(
    r"^EXPLAIN(?:\s+(?:AST|SYNTAX|QUERY\s+TREE|PLAN|PIPELINE|ESTIMATE))?"
    r"(?:\s+\w+\s*=\s*\d+\s*,?)*\s+(SELECT\b.*|WITH\b.*)$",
    re.IGNORECASE | re.DOTALL)
_INSERT_RE = re.compile(
    r"^INSERT\s+INTO\s+`?(\w+)`?\s*(?:\(([^()]*)\)\s*)?"
    r"(SELECT\b.*|WITH\b.*)$",
    re.IGNORECASE | re.DOTALL)
_INSERT_VALUES_RE = re.compile(
    r"^INSERT\s+INTO\s+(?:TABLE\s+)?`?(\w+)`?\s*"
    r"(?:\(([^()]*)\)\s*)?(?:FORMAT\s+VALUES|VALUES)\s*(.+)$",
    re.IGNORECASE | re.DOTALL)
_INSERT_JSONROWS_RE = re.compile(
    r"^INSERT\s+INTO\s+(?:TABLE\s+)?`?(\w+)`?\s*"
    r"(?:\(([^()]*)\)\s*)?FORMAT\s+"
    r"(JSONEachRow|JSONCompactEachRow|JSONAsObject|JSONAsString)"
    r"\s+(.+)$",
    re.IGNORECASE | re.DOTALL)
_DELETE_RE = re.compile(
    r"^(?:ALTER\s+TABLE\s+`?(\w+)`?\s+DELETE|DELETE\s+FROM\s+`?(\w+)`?)"
    r"\s+WHERE\s+(.*)$", re.IGNORECASE | re.DOTALL)
_UPDATE_RE = re.compile(
    r"^ALTER\s+TABLE\s+`?(\w+)`?\s+UPDATE\s+(.*?)\s+WHERE\s+(.*)$",
    re.IGNORECASE | re.DOTALL)


_COLUMNS_APPLY_RE = re.compile(
    r"COLUMNS\(\s*'([^']*)'\s*\)(?:\s+APPLY\s*\(\s*(\w+)\s*\))?",
    re.IGNORECASE)


def _rewrite_columns_apply(spark, sql: str) -> str:
    """``COLUMNS('regex') [APPLY(fn)]`` dynamic-column star modifier
    (reference src/Parsers/ASTColumnsMatcher.h, ASTColumnsTransformers.h)
    — expanded against the schema of the (single) FROM table."""
    m = _COLUMNS_APPLY_RE.search(sql)
    if not m:
        return sql
    tm = re.search(r"\bFROM\s+([A-Za-z_][\w.]*(?:\([^)]*\))?)", sql,
                   re.IGNORECASE)
    if not tm:
        return sql
    try:
        cols = spark.table(tm.group(1)).columns
    except Exception:
        # TVF / non-catalog source: probe the schema with a LIMIT 0
        # plan of just the FROM part (numbers(), generate_series, ...)
        try:
            cols = spark.sql(translate_ch_sql(
                f"SELECT * FROM {tm.group(1)} LIMIT 0")).columns
        except Exception:
            return sql

    def sub(mm):
        rx = re.compile(mm.group(1))
        matched = [c for c in cols if rx.search(c)]
        fn = mm.group(2)
        if fn:
            return ", ".join(f"{fn}(`{c}`) AS `{fn}({c})`" for c in matched)
        return ", ".join(f"`{c}`" for c in matched)

    return _COLUMNS_APPLY_RE.sub(sub, sql)


# Query-result cache (reference src/Interpreters/Cache/QueryCache.h,
# SETTINGS use_query_cache): keyed by normalized query text; entries
# are persisted DataFrames, so a hit skips translation AND
# recomputation (Spark recomputes lazily from the persisted blocks).
_QUERY_CACHE: dict = {}

# system.query_log analog (reference
# src/Interpreters/QueryLog.h): every ch_sql invocation records
# (sequence, original text, what the frontend produced — translated
# Spark SQL for selects, the DDL/DML action name otherwise).  Ordered,
# deterministic (no wall-clock); SYSTEM FLUSH LOGS is a no-op and
# TRUNCATE query_log clears it.
_QUERY_LOG: list = []


def system_query_log(spark):
    """The recorded frontend log as a DataFrame (seq, kind,
    query, translated)."""
    from pyspark.sql import types as _T
    schema = _T.StructType([
        _T.StructField("seq", _T.LongType()),
        _T.StructField("kind", _T.StringType()),
        _T.StructField("query", _T.StringType()),
        _T.StructField("translated", _T.StringType())])
    return spark.createDataFrame(list(_QUERY_LOG), schema)


def clear_query_log() -> None:
    _QUERY_LOG.clear()


def clear_query_cache() -> None:
    """SYSTEM DROP QUERY CACHE analog."""
    for df in _QUERY_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _QUERY_CACHE.clear()


_SQL_UDFS_DONE: set = set()


def _rewrite_tuple_nvp(spark, text: str, tables) -> str:
    """tupleToNameValuePairs(t) → Array(Tuple(name, value))
    (reference src/Functions/tupleToNameValuePairs.cpp): named tuples
    pair field names with values; unnamed tuples use 1-based position
    strings.  All elements must share one type
    (ILLEGAL_TYPE_OF_ARGUMENT otherwise).  Literal tuple() args expand
    positionally; bare-column args reflect the struct fields from the
    FROM table's schema (golden 02008)."""
    out, pos = [], 0
    low = text.lower()
    while True:
        i = low.find("tupletonamevaluepairs", pos)
        if i < 0:
            out.append(text[pos:])
            break
        if i > 0 and (text[i - 1].isalnum() or text[i - 1] in "_`"):
            out.append(text[pos:i + 1])
            pos = i + 1
            continue
        op = text.find("(", i)
        if op < 0 or text[i + len("tupletonamevaluepairs"):op].strip():
            out.append(text[pos:i + 1])
            pos = i + 1
            continue
        close = _matching_paren(text, op)
        if close < 0:
            out.append(text[pos:i + 1])
            pos = i + 1
            continue
        arg = text[op + 1:close].strip()
        repl = None
        tm = re.match(r"(?is)^tuple\s*\((.*)\)\s*$", arg) \
            or re.match(r"(?s)^\(\s*(.*)\)\s*$", arg)
        if tm:
            items = [x.strip() for x in _split_top_commas(tm.group(1))]

            def _cls(e: str) -> str:
                if re.fullmatch(r"-?\d+", e):
                    return "int"
                if re.fullmatch(r"-?\d*\.\d+", e):
                    return "float"
                if re.fullmatch(r"'(?:[^'\\]|\\.)*'", e):
                    return "str"
                if e.startswith("["):
                    return "arr"
                return "expr"
            kinds = {_cls(x) for x in items}
            if len(kinds - {"expr"}) > 1 or "arr" in kinds:
                raise ValueError(
                    "tupleToNameValuePairs: all tuple elements must "
                    "share one type (reference "
                    "ILLEGAL_TYPE_OF_ARGUMENT)")
            repl = "array(" + ", ".join(
                f"named_struct('col1', '{k + 1}', 'col2', {v})"
                for k, v in enumerate(items)) + ")"
        elif re.fullmatch(r"`?\w+`?", arg):
            cname = arg.strip("`")
            fm = re.search(r"(?i)\bFROM\s+`?(\w+)`?", text)
            src = _resolve_view_safe(
                spark, fm.group(1),
                (tables or {}).get(fm.group(1))) if fm else None
            if src is not None and cname in src.columns:
                dt = src.schema[cname].dataType
                from pyspark.sql import types as _T
                if isinstance(dt, _T.StructType):
                    repl = "array(" + ", ".join(
                        f"named_struct('col1', '{f.name}', "
                        f"'col2', {arg}.`{f.name}`)"
                        for f in dt.fields) + ")"
                elif isinstance(dt, _T.StringType):
                    # Object('json') string carrier: the tuple fields
                    # are the sorted UNION of top-level paths across
                    # rows (SerializationObject least-common-type;
                    # golden 02887) — sample the column to discover
                    # them and the unified leaf type
                    import json as _json3
                    keys: set = set()
                    ints = True
                    try:
                        for r0 in src.select(cname).limit(200) \
                                .collect():
                            v0 = r0[0]
                            if not v0:
                                continue
                            o0 = _json3.loads(v0)
                            if isinstance(o0, dict):
                                keys |= set(o0)
                                ints = ints and all(
                                    x is None or isinstance(x, int)
                                    for x in o0.values())
                    except Exception:
                        keys = set()
                    if keys:
                        cast = ("CAST({v} AS BIGINT)" if ints
                                else "{v}")
                        ents = []
                        for k3 in sorted(keys):
                            v3 = (f"get_json_object({arg}, "
                                  f"'$.{k3}')")
                            ents.append(
                                f"named_struct('col1', '{k3}', "
                                f"'col2', {cast.format(v=v3)})")
                        repl = "array(" + ", ".join(ents) + ")"
        if repl is None:
            # non-struct / unresolvable argument: leave the call
            # as-is (surfaces as an analysis error, not a hard
            # frontend failure — 02887 Object-typed columns)
            out.append(text[pos:i + 1])
            pos = i + 1
            continue
        out.append(text[pos:i])
        out.append(repl)
        pos = close + 1
    return "".join(out)


def _ensure_sql_udfs(spark) -> None:
    """Register the UDF-backed scalar names (MD4, keccak256, punycode,
    normalizeUTF8NF*, ...) as SQL functions once per session so CH-SQL
    text resolves them natively (reference: every function name is
    SQL-callable, src/Functions/FunctionFactory.h)."""
    key = id(spark)
    if key in _SQL_UDFS_DONE:
        return
    _SQL_UDFS_DONE.add(key)
    try:
        from clickhouse_core_spark.functions.udf import (
            register_sql_scalar_udfs)
        register_sql_scalar_udfs(spark)
    except Exception:
        pass        # registration is best-effort; Column callers use ch.*
    try:
        # CH-style type names for toTypeName (metadata-only scalar;
        # input is typeof()'s string, not data volume)
        spark.udf.register("__ch_type_name", _spark_type_str_to_ch,
                           "string")
    except Exception:
        pass


def ch_sql_cached(spark, sql: str, **kwargs):
    """ch_sql with the query cache engaged (use_query_cache=1)."""
    key = " ".join(sql.split())
    if key in _QUERY_CACHE:
        return _QUERY_CACHE[key]
    df = ch_sql(spark, sql, **kwargs)
    if df is not None and hasattr(df, "persist"):
        df = df.persist()
        _QUERY_CACHE[key] = df
    return df


def _bool_pred_sql(c: str) -> str:
    """CH predicates are UInt8 (0/false, nonzero/true — WHERE 1 is a
    legal always-true mutation filter, MutationsInterpreter); Spark
    wants BOOLEAN — numeric-literal predicates compare against 0."""
    return f"(({c}) <> 0)" if re.fullmatch(
        r"\s*[+-]?\d+(\.\d+)?\s*", c) else c


# Size suffixes only apply to numeric setting fields (the reference's
# SettingFieldUInt64 etc. parse them; SettingFieldString keeps the text
# verbatim).  Gate on the numeric-setting name shape so a string-valued
# setting whose text happens to look like a size ('10M') survives.
_NUMERIC_SETTING_RE = re.compile(
    r"(memory|bytes|size|rows|block|bandwidth|cache|timeout|threads|"
    r"streams|depth|backoff|pool|buffer|quota|period|interval_ms|"
    r"elements|columns|partitions|marks|granularity)")


def _setting_is_numeric(name: str) -> bool:
    return bool(_NUMERIC_SETTING_RE.search(name.lower()))


def _parse_size_suffix(s: str):
    """CH setting size suffixes (src/Common/formatReadable /
    SettingsFields parseWithSizeSuffix; golden 01039): k/M/G/T are
    decimal multipliers, the 'i' forms binary (Ki = 1024)."""
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*([KkMmGgTt])(i|I)?\s*", s)
    if m is None:
        return None
    exp = {"k": 1, "m": 2, "g": 3, "t": 4}[m.group(2).lower()]
    base = 1024 if m.group(3) else 1000
    val = float(m.group(1)) * (base ** exp)
    return int(val) if val == int(val) else val


def _parse_set_statement(body: str, settings: dict | None) -> None:
    """``SET name = value[, name = value]*`` (reference
    src/Interpreters/InterpreterSetQuery.h): record each assignment in
    the session ``settings`` dict.  Values parse as int/float/quoted
    string/bare word."""
    for item in _split_top_commas(body):
        mm = re.match(r"\s*`?(\w+)`?\s*=\s*(.+?)\s*$", item, re.DOTALL)
        if mm is None:
            continue
        name, raw = mm.group(1).lower(), mm.group(2).strip()
        if re.fullmatch(r"[+-]?\d+", raw):
            val = int(raw)
        elif re.fullmatch(r"[+-]?\d*\.\d+", raw):
            val = float(raw)
        elif len(raw) >= 2 and raw[0] == "'" and raw[-1] == "'":
            val = raw[1:-1].replace("\\'", "'").replace("''", "'")
            if _setting_is_numeric(name):
                sz = _parse_size_suffix(val)
                if sz is not None:
                    val = sz
        else:
            val = raw
        if settings is not None:
            settings[name] = val


def ch_sql(spark, sql: str, sample_by: dict[str, str] | None = None,
           tables: dict | None = None,
           settings: dict | None = None):
    """CH-dialect entry point with session SETTINGS semantics
    (reference src/Core/Settings.cpp): ``SET`` statements update the
    caller's ``settings`` dict; honored result-shaping settings are
    ``limit`` / ``offset`` (applied to SELECT results on top of the
    query's own LIMIT, per the reference's limit/offset settings) and
    ``union_default_mode`` (bare UNION becomes UNION ALL when 'ALL').
    Settings whose behavior matches this engine's natural semantics
    (``group_by_use_nulls=0``) are recorded and need no plan change;
    unknown/tuning settings are recorded and ignored (documented
    permissiveness, LIMITS.md).  Outer joins emit NULL for the
    non-matched side (the reference's ``join_use_nulls=1`` shape;
    its DEFAULT ``join_use_nulls=0`` type-default fill is a
    documented gap, LIMITS.md)."""
    s = sql.strip().rstrip(";")
    m = re.match(r"(?is)^SET\s+(?!ROLE\b|DEFAULT\b)(.+)$", s)
    if m:
        _parse_set_statement(m.group(1), settings)
        # keep the legacy global-session path (SESSION_SETTINGS +
        # live Spark-conf application) in sync
        for item in _split_top_commas(m.group(1)):
            sm = re.match(r"\s*`?(\w+)`?\s*=\s*(.+?)\s*$", item,
                          re.DOTALL)
            if sm is None:
                continue
            _sv = sm.group(2).strip("'")
            _sz = (_parse_size_suffix(_sv)
                   if _setting_is_numeric(sm.group(1)) else None)
            SESSION_SETTINGS[sm.group(1)] = (str(_sz)
                                             if _sz is not None
                                             else _sv)
            live = {"max_threads": "spark.sql.shuffle.partitions",
                    "session_timezone": "spark.sql.session.timeZone"}
            tgt = live.get(sm.group(1).lower())
            if tgt:
                spark.conf.set(tgt, sm.group(2).strip("'"))
            if sm.group(1).lower() == \
                    "output_format_json_escape_forward_slashes":
                from ..sources import tsvrender as _tr
                _tr.JSON_ESCAPE_SLASHES[0] = \
                    sm.group(2).strip("'") in ("1", "true")
        return None
    # SET dialect = 'kusto' routes subsequent statements through the
    # KQL frontend (reference src/Client/ClientBase dialect switch;
    # 02366_kql_* corpus files are KQL after the SET)
    dialect = ((settings or {}).get("dialect")
               or SESSION_SETTINGS.get("dialect"))
    if dialect == "kusto" and not re.match(
            r"(?is)^\s*(SET|DROP|CREATE|INSERT|ALTER|TRUNCATE|"
            r"OPTIMIZE|SHOW|DESCRIBE|DESC|EXISTS|RENAME|USE)\b", s):
        from clickhouse_core_spark.plans.kql import kql as _kql
        return _kql(spark, s)
    if settings and str(settings.get("union_default_mode", "")
                        ).upper() == "ALL":
        s2 = _sub_nonstring(sql, lambda seg: re.sub(
            r"(?i)\bUNION\s+(?!ALL\b|DISTINCT\b)", "UNION ALL ", seg))
        sql = s2
    # per-statement render/cast hint registries (r11 ADVICE: the
    # global dicts leaked hints across queries — a DateTime64(1)
    # literal in one query changed how a LATER query rendered the
    # same wall+micro value — and grew unboundedly).  Reset at each
    # TOP-LEVEL statement; nested ch_sql calls (INSERT SELECT, view
    # bodies) keep the outer statement's hints.
    global _CH_SQL_DEPTH
    if _CH_SQL_DEPTH == 0:
        from ..sources.tsvrender import DT64_SCALE_HINTS
        DT64_SCALE_HINTS.clear()
        _JSON_CAST_INFO.clear()
    _CH_SQL_DEPTH += 1
    try:
        df = _ch_sql_impl(spark, sql, sample_by=sample_by,
                          tables=tables)
    finally:
        _CH_SQL_DEPTH -= 1
    if df is not None and any(
            f.dataType.simpleString().startswith("interval")
            for f in df.schema.fields):
        # interval-typed RESULT columns are not collectible in PySpark
        # (YearMonthIntervalType.fromInternal); the reference displays
        # an interval as its unit count — BIGINT cast yields exactly
        # that for single-unit intervals
        df = df.select(*[
            F.col(f"`{f.name}`").cast("long").alias(f.name)
            if f.dataType.simpleString().startswith("interval")
            else F.col(f"`{f.name}`")
            for f in df.schema.fields])
    if df is not None and settings \
            and re.match(r"(?is)^\s*(SELECT|WITH)\b", sql):
        off = settings.get("offset")
        lim = settings.get("limit")
        if off:
            df = df.offset(int(off))
        if lim:
            df = df.limit(int(lim))
    return df


_GENRAND_COUNTER = [0]
_CH_SQL_DEPTH = 0


def _merge_union_df(spark, pattern: str, tables):
    """Union (by name, missing columns NULL) of every registered table
    whose name matches ``pattern`` (reference StorageMerge)."""
    rx = re.compile(pattern)
    names = {t.name for t in spark.catalog.listTables()}
    names |= {k for k in (tables or {}) if not k.startswith("__")}
    matched = sorted(n for n in names
                     if rx.search(n) and not n.startswith("__"))
    dfs = []
    for n in matched:
        try:
            dfs.append(spark.table(n))
        except Exception:
            continue
    if not dfs:
        return None
    # unified structure: a table missing a column contributes the
    # column TYPE DEFAULT (StorageMerge fills defaults, not NULLs)
    fields: dict = {}
    for d in dfs:
        for f in d.schema.fields:
            fields.setdefault(f.name, f.dataType)
    out = None
    for d in dfs:
        have = set(d.columns)
        sel = [F.col(f"`{nm2}`") if nm2 in have
               else F.expr(_ch_type_default_sql(dt)).cast(dt)
               .alias(nm2)
               for nm2, dt in fields.items()]
        part = d.select(*sel)
        out = part if out is None else out.unionByName(part)
    return out


def _materialize_merge_tvf(spark, text: str, tables) -> str:
    """``merge(['db',] 'regex')`` table function / DESCRIBE target
    (reference src/TableFunctions/TableFunctionMerge.cpp): union view
    over the session tables matching the regex."""
    while True:
        m = re.search(r"(?i)\bmerge\s*\(", text)
        if m is None:
            return text
        open_i = text.index("(", m.start())
        end_i = _matching_paren(text, open_i)
        if end_i < 0:
            return text
        args = _split_top_commas(text[open_i + 1:end_i])
        pat = (args[-1].strip() if args else "")
        if not (pat.startswith("'") and pat.endswith("'")):
            return text
        df = _merge_union_df(spark, pat.strip("'"), tables)
        if df is None:
            raise ValueError(
                f"merge({pat}): no tables match (reference "
                f"UNKNOWN_TABLE)")
        _GENRAND_COUNTER[0] += 1
        vname = f"__merge_{_GENRAND_COUNTER[0]}"
        df.createOrReplaceTempView(vname)
        text = text[:m.start()] + vname + text[end_i + 1:]


def _materialize_generate_random(spark, text: str, tables) -> str:
    """``generateRandom(['schema'][, seed])`` in SQL FROM position
    (reference src/TableFunctions/TableFunctionGenerateRandom.cpp):
    materialize a deterministic random view via
    sources.formats.generate_random.  The schema-less form takes the
    structure from the INSERT target (the reference's
    structure-from-insertion-table rule)."""
    while True:
        m = re.search(r"(?i)\bgenerateRandom\s*\(", text)
        if m is None:
            return text
        open_i = text.index("(", m.start())
        end_i = _matching_paren(text, open_i)
        if end_i < 0:
            return text
        args = _split_top_commas(text[open_i + 1:end_i])
        schema_txt = args[0].strip() if args else ""
        seed = 42
        if len(args) >= 2 and re.fullmatch(r"\d+", args[1].strip()):
            seed = int(args[1].strip())
        if schema_txt.startswith("'"):
            cols = _split_top_commas(schema_txt.strip("'"))
            parts = []
            for c in cols:
                toks = c.strip().split(None, 1)
                if len(toks) != 2:
                    return text
                parts.append(f"`{toks[0].strip('`')}` "
                             f"{_ch_decl_type_to_spark(toks[1])}")
            ddl = ", ".join(parts)
        else:
            tm = re.match(r"(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?"
                          r"`?(\w+)`?(?:\s*\(([^()]*)\))?", text)
            if tm is None:
                return text
            schema = _target_schema(
                spark, tm.group(1), (tables or {}).get(tm.group(1)))
            if schema is None:
                return text
            sel = ([c.strip().strip("`")
                    for c in tm.group(2).split(",")]
                   if tm.group(2) and tm.group(2).strip() else None)
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in schema.fields
                if sel is None or f.name in sel)
        from ..sources.formats import generate_random
        df = generate_random(spark, ddl, 100000, seed=seed)
        _GENRAND_COUNTER[0] += 1
        vname = f"__genrand_{_GENRAND_COUNTER[0]}"
        df.createOrReplaceTempView(vname)
        text = text[:m.start()] + vname + text[end_i + 1:]


def _rewrite_virtual_columns(spark, text: str, tables: dict) -> str:
    """MergeTree virtual columns ``_path`` / ``_file`` / ``_part`` /
    ``_partition_id`` (reference MergeTreeData::getVirtualsList /
    StorageFile virtuals): register a side view of the managed table
    with the virtuals materialized from the parquet file paths and
    point the query at it.  A bare ``*`` in the select list expands to
    the BASE columns first (CH stars never include virtuals)."""
    from ..sources.engines import MemoryTable
    from ..sources.mergetree import MergeTreeTable

    for nm, tt in list(tables.items()):
        if nm.startswith("__") or not isinstance(tt, MergeTreeTable):
            continue
        if not re.search(rf"(?is)\bFROM\s+`?{re.escape(nm)}`?(?!\w)",
                         text):
            continue
        try:
            df = tt.read_raw()
        except Exception:
            continue
        base_cols = list(df.columns)
        fname = F.input_file_name()
        root = str(getattr(tt, "path", ""))
        rel = (F.regexp_replace(fname, re.escape("file://"), "")
               if root else fname)
        df = (df.withColumn("_path", rel)
              .withColumn("_file",
                          F.element_at(F.split(fname, "/"), -1))
              .withColumn("_part", F.regexp_extract(
                  fname, re.escape(root.rstrip("/")) + r"/([^/]+)", 1)
                  if root else F.element_at(F.split(fname, "/"), -2))
              .withColumn("_partition_id", F.regexp_extract(
                  fname, r"/[^/=]+=([^/]*)/[^/]*$", 1)))
        pby = list(getattr(tt, "partition_by", None) or ())
        if pby:
            # _partition_value: tuple of the partition KEY values —
            # plain columns read directly, expression keys re-evaluate
            # (positional .1/.2 access maps to col1/col2)
            try:
                elems = []
                for i, c in enumerate(pby):
                    cs = str(c).strip()
                    if re.fullmatch(r"`?\w+`?", cs) \
                            and cs.strip("`") in base_cols:
                        elems.append(F.col(f"`{cs.strip('`')}`")
                                     .alias(f"col{i + 1}"))
                    else:
                        elems.append(
                            F.expr(_translate_expr(cs))
                            .alias(f"col{i + 1}"))
                df = df.withColumn("_partition_value",
                                   F.struct(*elems))
            except Exception:
                pass
        vname = f"__virt_{nm}"
        df.createOrReplaceTempView(vname)
        star = ", ".join(f"`{c}`" for c in base_cols)
        text = re.sub(r"(?is)(\bSELECT\s+(?:DISTINCT\s+)?)\*",
                      lambda m: m.group(1) + star, text, count=1)
        text = re.sub(rf"(?is)\bFROM\s+`?{re.escape(nm)}`?(?!\w)",
                      f"FROM {vname}", text)
    # Memory tables and views (no parts on disk): the virtuals exist
    # but carry empty paths
    for fm in re.finditer(r"(?is)\bFROM\s+`?(\w+)`?(?!\w)", text):
        nm = fm.group(1)
        t = (tables or {}).get(nm)
        if nm.startswith("__") or (
                t is not None and not isinstance(t, MemoryTable)):
            continue
        try:
            df = spark.table(nm)
        except Exception:
            continue
        base_cols = list(df.columns)
        if any(c.startswith("_p") or c == "_file" for c in base_cols):
            continue
        df = (df.withColumn("_path", F.lit(""))
              .withColumn("_file", F.lit(""))
              .withColumn("_part", F.lit(""))
              .withColumn("_partition_id", F.lit("")))
        vname = f"__virt_{nm}"
        df.createOrReplaceTempView(vname)
        star = ", ".join(f"`{c}`" for c in base_cols)
        text = re.sub(r"(?is)(\bSELECT\s+(?:DISTINCT\s+)?)\*",
                      lambda m: m.group(1) + star, text, count=1)
        text = re.sub(rf"(?is)\bFROM\s+`?{re.escape(nm)}`?(?!\w)",
                      f"FROM {vname}", text)
    return text


def _ch_sql_impl(spark, sql: str,
                 sample_by: dict[str, str] | None = None,
                 tables: dict | None = None):
    """Run a ClickHouse-dialect query on Spark (tables must be
    registered as views, e.g. via Catalog.register_all; FINAL needs the
    ``<name>__final`` view from :func:`register_mergetree_sql`).

    A table created with a ``SAMPLE BY <expr>`` clause carries its
    sampling key (`sample_by_expr`), so SAMPLE queries need no
    explicit ``sample_by=`` mapping (golden 03290_final_sample).

    ``ORDER BY col WITH FILL [FROM x] [TO y] [STEP s]`` (reference
    src/Parsers/ParserSelectQuery.h:10, FillingTransform) is detected
    here rather than rewritten to SQL text: the base query runs, then
    the :func:`~clickhouse_core_spark.operators.fill.with_fill`
    operator supplies the missing progression rows.  Single-column
    ORDER BY only — multi-key WITH FILL needs the DataFrame API.

    Statement surface beyond SELECT (``tables`` maps view names to
    MergeTreeTable objects for the mutating forms):

    - ``EXPLAIN [AST|SYNTAX|PLAN|PIPELINE|ESTIMATE] SELECT ...`` →
      Spark ``EXPLAIN EXTENDED`` of the translated query (reference
      src/Interpreters/InterpreterExplainQuery.h; the CH mode keywords
      all collapse to Spark's plan dump — there is one optimizer here);
    - ``INSERT INTO t SELECT ...`` → translated select appended as a
      new part via MergeTreeTable.insert (reference
      src/Interpreters/InterpreterInsertQuery.h);
    - ``ALTER TABLE t DELETE WHERE ...`` / ``DELETE FROM t WHERE ...``
      → MergeTreeTable.delete_where (InterpreterDeleteQuery.cpp:105);
    - ``ALTER TABLE t UPDATE c = e, ... WHERE ...`` →
      MergeTreeTable.update_where (MutationsInterpreter.h).
    """
    _ensure_sql_udfs(spark)
    text = sql.strip().rstrip(";")
    if tables and re.search(r"(?i)\bSAMPLE\b", text):
        # tables created with SAMPLE BY carry their sampling key
        # (golden 03290_final_sample)
        from ..sources.mergetree import MergeTreeTable
        for _tn, _tb in list(tables.items()):
            _se = isinstance(_tb, MergeTreeTable) and _tb.sample_by_expr
            if _se and (_tn not in (sample_by or {})):
                sample_by = dict(sample_by or {})
                sample_by[_tn] = _se
                # FINAL routing reads through the <name>__final view
                sample_by.setdefault(f"{_tn}__final", _se)
    if tables and re.search(r"(?i)\b(corr|covarPop|covarSamp)"
                            r"(Stable)?\s*\(", text):
        # corr/covar reject Decimal arguments (AggregateFunctionsStat
        # isFinite templates take Float-convertible only — reference
        # ILLEGAL_TYPE_OF_ARGUMENT, golden 00700_decimal_aggregates;
        # var/stddev DO take decimals)
        fm0 = re.search(r"(?i)\bFROM\s+`?(\w+)`?", text)
        dec_cols: set = set()
        if fm0 is not None:
            try:
                from pyspark.sql import types as _T
                for f0 in spark.table(fm0.group(1)).schema.fields:
                    if isinstance(f0.dataType, _T.DecimalType) \
                            and (f0.dataType.precision,
                                 f0.dataType.scale) not in (
                                     (20, 0), (38, 0)):
                        # (20,0)/(38,0) are the UInt64/Int128 integer
                        # carriers — corr over those is legal
                        dec_cols.add(f0.name)
            except Exception:
                pass
        if dec_cols:
            for m0 in re.finditer(r"(?i)\b(?:corr|covarPop|covarSamp)"
                                  r"(?:Stable)?\s*\(([^()]*)\)", text):
                if any(a.strip().strip("`") in dec_cols
                       for a in m0.group(1).split(",")):
                    raise ValueError(
                        "corr/covar over Decimal arguments (reference "
                        "ILLEGAL_TYPE_OF_ARGUMENT) — cast to Float64")
    if tables and re.search(r"(?i)\btoTypeName\s*\(", text):
        # Object('json') columns: the finalized tuple's exact name
        # (incl. Nullable paths / narrow ints) lives on the table —
        # typeof() cannot see it (goldens 01825_type_json_2/18)
        _fm9 = re.search(r"(?i)\bFROM\s+`?(\w+)`?", text)
        _tn9 = _fm9.group(1) if _fm9 else None
        _chmaps = ([_decls(tables.get(_tn9))] if _tn9 is not None
                   else _session_decls(tables).values())
        for _d9 in _chmaps:
            for _c0, _nm0 in _d9.obj_ch_types.items():
                text = re.sub(
                    rf"(?i)\btoTypeName\s*\(\s*`?{re.escape(_c0)}`?"
                    rf"\s*\)", "'" + _nm0.replace("'", "''") + "'",
                    text)
    if "tupletonamevaluepairs" in text.lower():
        text = _rewrite_tuple_nvp(spark, text, tables)
    # refresh the Dynamic-subcolumn rewrite context from this
    # session's declarations (see _DYN_CTX)
    if tables is not None:
        decls0 = _session_decls(tables)
        _DYN_CTX["dynamic"] = set().union(
            *(d0.dynamic for d0 in decls0.values()))
        _DYN_CTX["tables"] = {tn0: set(d0.columns)
                              for tn0, d0 in decls0.items()
                              if d0.schema_ddl}
        # element-type defaults for declared ARRAY columns — the
        # arrayShift fill sniffer resolves bare-column args here
        # (golden 02845 arrayShiftLeft(a, 3) fills 0, not NULL)
        elem0: dict = {}
        for d0 in decls0.values():
            for em0 in re.finditer(
                    r"`([^`]+)`\s+ARRAY<\s*(\w+)\s*>", d0.schema_ddl,
                    re.IGNORECASE):
                t0 = em0.group(2).upper()
                elem0[em0.group(1).lower()] = (
                    "''" if t0 == "STRING"
                    else "0.0" if t0 in ("FLOAT", "DOUBLE")
                    else "false" if t0 == "BOOLEAN" else "0")
        _ARRAY_ELEM_DEFAULTS.clear()
        _ARRAY_ELEM_DEFAULTS.update(elem0)
    else:
        _DYN_CTX["dynamic"] = _DYN_CTX["tables"] = None
        _ARRAY_ELEM_DEFAULTS.clear()
    if tables and re.match(r"(?is)\s*(SELECT|WITH)\b", text) \
            and re.search(r"\b_(?:path|file|part|partition_id|"
                          r"partition_value)\b", text):
        text = _rewrite_virtual_columns(spark, text, tables)
    if re.search(r"(?i)\bgenerateRandom\s*\(", text):
        text = _materialize_generate_random(spark, text, tables)
    if re.search(r"(?i)\b(?:FROM|DESCRIBE(?:\s+TABLE)?|DESC)\s+"
                 r"merge\s*\(", text):
        text = _materialize_merge_tvf(spark, text, tables)
    if tables is not None and re.search(r"(?i)\bIN\b", text):
        # `x IN table_name` / `x IN (table_name)`: a bare table
        # reference is the whole-table SET (reference
        # src/Interpreters/interpretSubquery — identifier-as-subquery)
        known = set(tables)
        try:
            known |= {t0.name for t0 in spark.catalog.listTables()}
        except Exception:
            pass

        def _in_tbl(m):
            nm = m.group(3).strip("`")
            if nm in known:
                return (f"{m.group(1) or ''}IN "
                        f"(SELECT * FROM `{nm}`)")
            return m.group(0)
        text = re.sub(r"(?i)\b(NOT\s+)?IN\s*\(\s*(`?)([\w.]+)\2\s*\)",
                      _in_tbl, text)
        text = re.sub(r"(?i)\b(NOT\s+)?IN\s+(`?)([\w.]+)\2"
                      r"(?![\w.(`])", _in_tbl, text)
    if tables is not None:
        jcols = set().union(
            *(d.json for d in _session_decls(tables).values()))
        # SELECT aliases bound to a ::JSON cast read like JSON columns
        # (dotted subcolumns over the cast result; 03272 goldens)
        jcols |= {al for al in re.findall(
            r"(?is)::\s*JSON\b(?:\s*\((?:[^()]|\([^()]*\))*\))?"
            r"\s+as\s+`?(\w+)`?", text)}
        if jcols and any(re.search(rf"\b{re.escape(c)}\s*\.", text)
                         for c in jcols):
            text = _rewrite_json_subcolumns(text, jcols)
        # declared ALIAS columns referenced by name: wrap the FROM/
        # JOIN table ref in a computed subquery (hidden from SELECT *).
        # MUST run before dotted-name backticking so alias expressions
        # over dotted Nested members (`dcount ALIAS length(c.d)`,
        # golden 01521) get backticked too
        if tables.get("__aliascols__") \
                and re.match(r"(?is)\s*(SELECT|WITH)\b", text):
            text = _inject_alias_columns(text, tables)
        # Nested expansion stores literal dotted column NAMES (`n.a`
        # Array(T), NestedUtils::flatten); backtick bare dotted
        # references (SELECT/ORDER BY/mutation predicates) so Spark
        # resolves the column instead of a struct access
        dotted = {c for d0 in _session_decls(tables).values()
                  for c in d0.columns if "." in c}
        for c in sorted(dotted, key=len, reverse=True):
            if re.search(rf"(?<![\w.`]){re.escape(c)}(?![\w.`])",
                         text):
                text = _sub_nonstring(text, lambda seg, c=c: re.sub(
                    rf"(?<![\w.`]){re.escape(c)}(?![\w.`])",
                    f"`{c}`", seg))
        # a bare Nested GROUP name in ARRAY JOIN expands to its member
        # arrays (reference ARRAY JOIN nested zips n.a, n.b)
        if dotted and re.search(r"(?i)\bARRAY\s+JOIN\b", text):
            groups: dict = {}
            for c in sorted(dotted):
                groups.setdefault(c.split(".")[0], []).append(c)
            def _aj_expand(m2):
                nm2 = m2.group(2)
                if nm2 in groups:
                    return m2.group(1) + ", ".join(
                        f"`{c}`" for c in groups[nm2])
                return m2.group(0)
            text = re.sub(
                r"(?i)((?:LEFT\s+)?ARRAY\s+JOIN\s+)(\w+)\b(?!\s*[.(])",
                _aj_expand, text)
    # ANTI JOIN exposing the NON-JOINED side's columns (reference
    # TableJoin anti: unmatched rows pair with a default row — ANTI
    # LEFT mirrors the USING key into the right side's key columns,
    # ANTI RIGHT leaves even the key at its default; golden
    # 01031_semi_anti_join).  Spark's LEFT ANTI outputs one side only,
    # so substitute the other side's references with defaults/mirrors.
    am0 = re.search(r"(?is)\bFROM\s+(`?\w+`?)\s+ANTI\s+(LEFT|RIGHT)\s+"
                    r"JOIN\s+(`?\w+`?)\s+USING\s*\(([^()]*)\)", text)
    if am0 is not None and tables is not None:
        lt, side, rt = (am0.group(1).strip("`"), am0.group(2).upper(),
                        am0.group(3).strip("`"))
        keys = [k.strip().strip("`") for k in am0.group(4).split(",")
                if k.strip()]
        gone = rt if side == "LEFT" else lt
        kept = lt if side == "LEFT" else rt
        if re.search(rf"(?<![\w.`]){gone}\s*\.", text):
            sch = _target_schema(spark, gone,
                                 (tables or {}).get(gone))
            if sch is not None:
                def repl_for(col, dt):
                    if side == "LEFT" and col in keys:
                        return f"`{col}`"      # key mirrors the kept side
                    return _ch_type_default_sql(dt)
                colmap = {f.name: repl_for(f.name, f.dataType)
                          for f in sch.fields}
                star = ", ".join(colmap[f.name] for f in sch.fields)
                new_from = (f"FROM {lt} LEFT ANTI JOIN {rt} USING "
                            f"({am0.group(4)})" if side == "LEFT" else
                            f"FROM {rt} LEFT ANTI JOIN {lt} USING "
                            f"({am0.group(4)})")
                text = text[:am0.start()] + new_from + text[am0.end():]
                text = re.sub(rf"(?<![\w.`]){gone}\s*\.\s*\*", star,
                              text)
                for c, r in colmap.items():
                    text = re.sub(
                        rf"(?<![\w.`]){gone}\s*\.\s*`?{re.escape(c)}`?"
                        rf"(?![\w`])", f"({r})", text)
                # kept-side qualified refs survive as-is; its star too
                text = re.sub(rf"(?<![\w.`]){kept}\s*\.\s*\*",
                              f"{kept}.*", text)
    # scalar-tuple CTE feeding a TVF: ``WITH (SELECT a, b FROM …) AS r
    # SELECT … FROM numbers(r.1, r.2)`` — the reference constant-folds
    # TVF arguments (evaluateConstantExpression); evaluate the scalar
    # eagerly and substitute the tuple elements as literals
    if re.search(r"(?i)\bnumbers\s*\(\s*\w+\s*\.\s*\d", text):
        mw = re.match(r"(?is)^\s*WITH\s*\(", text)
        close = _matching_paren(text, mw.end() - 1) if mw else -1
        am = (re.match(r"(?is)\s*AS\s+(\w+)\s*", text[close + 1:])
              if close > 0 else None)
        if am is not None:
            cname = am.group(1)
            rest = text[close + 1 + am.end():]
            if re.search(rf"(?i)\bnumbers\s*\(\s*{cname}\s*\.\s*\d",
                         rest):
                row0 = _run_sql(spark, translate_ch_sql(
                    text[mw.end():close])).first()
                text = re.sub(
                    rf"\b{re.escape(cname)}\s*\.\s*(\d+)",
                    lambda mm: str(int(row0[int(mm.group(1)) - 1])),
                    rest)
    # SELECT ... FROM (EXPLAIN ...): the plan text as a one-line-per-
    # row `explain` column (InterpreterSelectQuery over an explain
    # pipe) — plan WORDING is Spark's, not the reference's
    while True:
        fm = re.search(r"(?is)\bFROM\s*\(\s*EXPLAIN\b", text)
        if fm is None:
            break
        open_i = text.index("(", fm.start())
        end_i = _matching_paren(text, open_i)
        if end_i < 0:
            break
        inner = text[open_i + 1:end_i].strip()
        pdf = _ch_sql_impl(spark, inner, sample_by=sample_by,
                           tables=tables)
        col0 = pdf.columns[0]
        pdf = pdf.select(F.explode(F.split(
            F.col(f"`{col0}`"), "\n")).alias("explain"))
        _GENRAND_COUNTER[0] += 1
        vname = f"__explain_{_GENRAND_COUNTER[0]}"
        pdf.createOrReplaceTempView(vname)
        text = text[:fm.start()] + f"FROM {vname}" + text[end_i + 1:]
    kind_m = re.match(r"\s*([A-Za-z]+)", text)
    _QUERY_LOG.append([len(_QUERY_LOG),
                       (kind_m.group(1).upper() if kind_m else ""),
                       " ".join(text.split()), ""])

    # TRUNCATE [TABLE] [system.]query_log clears the recorded log
    if re.match(r"^TRUNCATE\s+(TABLE\s+)?(system\.)?query_log\s*$",
                text, re.IGNORECASE):
        _QUERY_LOG.clear()
        return None
    # SYSTEM FLUSH LOGS: the log is already materialized — no-op
    if re.match(r"^SYSTEM\s+FLUSH\s+LOGS\b", text, re.IGNORECASE):
        return None

    # dollar-quoted string literals ($$...$$, reference Lexer
    # heredoc) normalize to regular escaped literals
    if "$$" in text:
        text = re.sub(
            r"\$\$(.*?)\$\$",
            lambda m: "'" + m.group(1).replace("\\", "\\\\")
            .replace("'", "\\'") + "'", text, flags=re.DOTALL)
    # TEMPORARY tables are session-scoped Memory tables here (the
    # whole session IS one process); SHOW CREATE keeps the keyword so
    # its rendering matches the reference (golden 00564)
    tm = re.match(r"(?i)^CREATE\s+TEMPORARY\s+TABLE\b(.*)$", text,
                  re.DOTALL)
    if tm:
        rest = tm.group(1)
        nm0 = re.match(r"\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?", rest)
        if nm0 and tables is not None:
            tables.setdefault("__temp__", set()).add(nm0.group(1))
        text = "CREATE TABLE" + rest
        if not re.search(r"(?i)\bENGINE\b", rest) \
                and not re.search(r"(?i)\bAS\b", rest) \
                and re.match(r"\s*(?:IF\s+NOT\s+EXISTS\s+)?"
                             r"`?\w+`?\s*\(", rest):
            text += " ENGINE = Memory"
    text = re.sub(r"(?i)^(DROP|EXISTS)\s+TEMPORARY\s+TABLE\b",
                  lambda m: m.group(1).upper() + " TABLE", text)
    # CTAS straight from a table function: CREATE TABLE t AS format(…)
    # reads as AS SELECT * FROM format(…) (TableFunctionFormat)
    text = re.sub(r"(?is)^(CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                  r"`?\w+`?\s+AS)\s+(format\s*\()",
                  r"\1 SELECT * FROM \2", text)
    text = re.sub(r"(?i)^SHOW\s+TEMPORARY\s+TABLES\b", "SHOW TABLES",
                  text)

    if re.match(r"(?i)^CREATE\s+(OR\s+REPLACE\s+)?DICTIONARY\b",
                text):
        return _create_dictionary_statement(spark, text, tables)
    dm = re.match(r"(?i)^DROP\s+DICTIONARY\s+(IF\s+EXISTS\s+)?"
                  r"`?([\w.]+)`?\s*(?:SYNC)?\s*$", text)
    if dm:
        nm = dm.group(2).split(".")[-1]
        known = tables is not None and nm in tables
        if not known and not dm.group(1):
            raise ValueError(f"DROP DICTIONARY: unknown {nm!r}")
        if tables is not None:
            tables.pop(nm, None)
        try:
            spark.catalog.dropTempView(nm)
        except Exception:
            pass
        return None

    util = _utility_statement(spark, text, tables)
    if util is not _NO_MATCH:
        return util

    # CREATE TABLE ... ENGINE = <engine> [AS SELECT ...] routes to the
    # managed-table machinery (reference InterpreterCreateQuery.h);
    if re.match(r"(?i)\s*(CREATE|DROP|ALTER|RENAME|TRUNCATE|"
                r"OPTIMIZE)\b", text) \
            and re.search(r"(?i)\bON\s+CLUSTER\b", text):
        # ON CLUSTER is a DDL fan-out directive (InterpreterDDLQuery
        # distributed DDL) — Spark owns distribution; the local DDL is
        # the whole semantic here
        text = re.sub(r"(?i)\s+ON\s+CLUSTER\s+(?:'[^']*'|\"[^\"]*\"|"
                      r"[\w{}.]+)", " ", text)
    if re.search(r"(?i)\bCODEC\s*\(", text) \
            and re.match(r"(?i)\s*(CREATE|ALTER)\b", text):
        _validate_codecs(text)
    if re.search(r"(?i)\bvector_similarity\b", text) \
            and re.match(r"(?i)\s*(CREATE|ALTER)\b", text):
        _validate_vector_similarity_index(text)
    if re.match(r"(?i)\s*CREATE\b", text):
        fsm = re.search(r"(?i)\bFixedString\s*\(\s*(\d+)\s*\)", text)
        if fsm and int(fsm.group(1)) > 256:
            # allow_suspicious_fixed_string_types defaults off
            raise ValueError(
                f"FixedString({fsm.group(1)}): n > 256 is suspicious "
                f"(reference rejects without "
                f"allow_suspicious_fixed_string_types)")
        if re.search(r"(?i)\bSAMPLE\s+BY\s+tuple\s*\(\s*\)", text):
            raise ValueError(
                "SAMPLE BY tuple(): the sampling expression must be "
                "an unsigned-integer column "
                "(reference ILLEGAL_TYPE_OF_COLUMN_FOR_SAMPLING)")

    # CREATE OR REPLACE TABLE = DROP IF EXISTS + CREATE
    # (InterpreterCreateQuery create.replace_table)
    orm = re.match(r"(?is)^CREATE\s+OR\s+REPLACE\s+TABLE\s+"
                   r"(`?\w+`?)(.*)$", text)
    if orm:
        try:
            _ch_sql_impl(spark,
                         f"DROP TABLE IF EXISTS {orm.group(1)}",
                         tables=tables)
        except Exception:
            pass
        text = f"CREATE TABLE {orm.group(1)}{orm.group(2)}"

    # ENGINE-less CREATE TABLE carrying MergeTree clauses (ORDER BY /
    # PARTITION BY / PRIMARY KEY) takes the reference's
    # default_table_engine = MergeTree (src/Core/Settings default;
    # InterpreterCreateQuery::setEngine)
    if re.match(r"(?is)^CREATE\s+TABLE\b", text) \
            and not re.search(r"(?i)\bENGINE\s*=?\s*\w", text) \
            and re.search(r"(?is)\)\s*(ORDER\s+BY|PARTITION\s+BY|"
                          r"PRIMARY\s+KEY)\b", text):
        text = re.sub(r"(?is)\)\s*(?=(?:ORDER\s+BY|PARTITION\s+BY|"
                      r"PRIMARY\s+KEY)\b)", ") ENGINE = MergeTree ",
                      text, count=1)
    # ENGINE-less CREATE passes through to Spark's own DDL below
    if re.match(r"^CREATE\s+TABLE\b", text, re.IGNORECASE) \
            and (re.search(r"\bENGINE\s*=?\s*\w", text, re.IGNORECASE)
                 or re.match(r"(?is)^CREATE\s+TABLE\s+"
                             r"(?:IF\s+NOT\s+EXISTS\s+)?`?\w+`?\s+AS\s+"
                             r"(`?\w+`?\s*$|(?:SELECT|WITH)\b)",
                             text)):
        return _create_table_statement(spark, text, tables,
                                       sample_by=sample_by)

    # SETTINGS use_query_cache = 1 routes through the result cache
    qc = re.search(r"use_query_cache\s*=\s*1'?", text, re.IGNORECASE)
    if qc:
        cleaned = re.sub(r"(,\s*)?use_query_cache\s*=\s*1'?", "", text,
                         flags=re.IGNORECASE)
        cleaned = re.sub(r"\bSETTINGS\s*$", "", cleaned,
                         flags=re.IGNORECASE).rstrip().rstrip(",")
        return ch_sql_cached(spark, cleaned, sample_by=sample_by,
                             tables=tables)

    m = _EXPLAIN_RE.match(text)
    if m:
        # EXPLAIN ESTIMATE over a managed MergeTreeTable returns the
        # reference's (table, parts, rows, marks) row from the part
        # metadata — marks = parquet row groups, the granule analog
        # (reference src/Interpreters/InterpreterExplainQuery.cpp
        # ESTIMATE kind reads system.parts the same way)
        if re.match(r"^EXPLAIN\s+ESTIMATE\b", text, re.IGNORECASE) \
                and tables:
            tm = re.search(r"\bFROM\s+`?(\w+)`?", m.group(1),
                           re.IGNORECASE)
            table = tables.get(tm.group(1)) if tm else None
            if table is not None and hasattr(table, "parts_info"):
                info = table.parts_info().agg(
                    F.count("*").alias("parts"),
                    F.sum("rows").alias("rows")).first()
                marks = sum(len(table._rowgroup_bounds(p))
                            for p in table.parts())
                return spark.createDataFrame(
                    [(tm.group(1), int(info["parts"] or 0),
                      int(info["rows"] or 0), marks)],
                    "table string, parts bigint, rows bigint, "
                    "marks bigint")
        return spark.sql("EXPLAIN EXTENDED "
                         + translate_ch_sql(m.group(1), sample_by=sample_by))
    m = _INSERT_JSONROWS_RE.match(text)
    if m:
        return _insert_json_rows(spark, m.group(1), m.group(2),
                                 m.group(3).lower(), m.group(4),
                                 tables)

    m = _INSERT_VALUES_RE.match(text)
    if m:
        return _insert_values_statement(
            spark, m.group(1), m.group(2), m.group(3), tables)

    m = _INSERT_RE.match(text)
    if m:
        name, cols_raw, select = m.group(1), m.group(2), m.group(3)
        df = ch_sql(spark, select, sample_by=sample_by, tables=tables)
        if cols_raw and cols_raw.strip():
            cols = [c.strip().strip("`") for c in cols_raw.split(",")]
            df = df.toDF(*cols)
        else:
            # no column list: the reference aligns INSERT SELECT by
            # POSITION (InterpreterInsertQuery.cpp)
            sch = _target_schema(spark, name, (tables or {}).get(name))
            if sch is not None and len(df.columns) <= len(sch.fields):
                df = df.toDF(*[f.name for f in sch.fields][:len(df.columns)])
        return _append_to_table(spark, name, df, tables)

    # OPTIMIZE TABLE t [FINAL] [DEDUPLICATE [BY cols]] -> compaction /
    # dedup merge (reference src/Interpreters/InterpreterOptimizeQuery.h)
    m = re.match(r"^OPTIMIZE\s+TABLE\s+`?(\w+)`?"
                 r"(?:\s+PARTITION\s+(?:ID\s+)?"
                 r"(?:'[^']*'|tuple\s*\(\s*\)|\w+(?:\s*\(\s*\))?))?"
                 r"(\s+FINAL)?"
                 r"(?:\s+DEDUPLICATE(?:\s+BY\s+([\w\s,`]+))?)?\s*$",
                 text, re.IGNORECASE)
    if m:
        from ..sources.mergetree import MergeTreeTable
        table = (tables or {}).get(m.group(1))
        if not isinstance(table, MergeTreeTable):
            raise ValueError(f"OPTIMIZE needs a MergeTreeTable for "
                             f"{m.group(1)!r}")
        if "DEDUPLICATE" in text.upper():
            by = None
            if m.group(3):
                by = [c.strip(" `") for c in m.group(3).split(",")]
            table.optimize_deduplicate(by)
        else:
            table.compact()
        _register_table_views(spark, m.group(1), table, tables)
        return None

    # SYSTEM DROP QUERY CACHE (QueryCache.h)
    if re.match(r"^SYSTEM\s+DROP\s+QUERY\s+CACHE\s*$", text, re.IGNORECASE):
        clear_query_cache()
        return None
    m = _DELETE_RE.match(text)
    if m:
        name = m.group(1) or m.group(2)
        table = (tables or {}).get(name)
        predtext = m.group(3)
        # mutation predicates run on read_raw(), where Object('json')
        # columns are still the string carrier (not the finalized
        # tuple a SELECT sees) — rewrite their subcolumn reads to
        # get_json_object like declared-JSON columns (golden 02887)
        ocols = _decls(table).obj | _decls(table).obj_array
        if ocols and any(re.search(rf"\b{re.escape(c)}\s*\.", predtext)
                         for c in ocols):
            predtext = _rewrite_json_subcolumns(predtext, ocols)
        pred = F.expr(_bool_pred_sql(_rewrite_json_struct_compare(
            _translate_expr(predtext))))
        if table is None:
            # undeclared view: rewrite the view.  If `name` shadows a
            # STANDARD_TABLES view, Catalog.register_all() is
            # idempotent and will NOT restore the parquet-backed view
            # on the next query entry — call register_all(force=True)
            # to undo the shadow.
            try:
                df_v = spark.table(name)
            except Exception:
                raise ValueError(
                    f"DELETE needs a table for {name!r}")
            df_v.filter(~F.coalesce(pred, F.lit(False))) \
                .localCheckpoint(eager=True) \
                .createOrReplaceTempView(name)
            return None
        # reference semantics split: `DELETE FROM t` is the LIGHTWEIGHT
        # delete (mask sidecar, InterpreterDeleteQuery.cpp:105);
        # `ALTER TABLE t DELETE` is the heavy mutation (part rewrite)
        if m.group(2) is not None and \
                hasattr(table, "delete_where_lightweight"):
            table.delete_where_lightweight(pred)
        else:
            table.delete_where(pred)
        _register_table_views(spark, name, table, tables)
        return None
    m = _UPDATE_RE.match(text)
    if m:
        name, assigns, cond = m.group(1), m.group(2), m.group(3)
        table = (tables or {}).get(name)
        assignments = {}
        for part in _split_top_commas(assigns):
            col, _, expr = part.partition("=")
            assignments[col.strip().strip("`")] = F.expr(_translate_expr(expr.strip()))
        if table is None:
            # view-backed table: per-row CASE WHEN rewrite (same
            # register_all(force=True) note as the DELETE branch above)
            try:
                df_v = spark.table(name)
            except Exception:
                raise ValueError(
                    f"UPDATE needs a table for {name!r}")
            cond_c = F.coalesce(
                F.expr(_bool_pred_sql(_translate_expr(cond))),
                F.lit(False))
            for cname, cexpr in assignments.items():
                dt = df_v.schema[cname].dataType
                df_v = df_v.withColumn(
                    cname, F.when(cond_c, cexpr.cast(dt))
                    .otherwise(F.col(f"`{cname}`")))
            df_v.localCheckpoint(eager=True) \
                .createOrReplaceTempView(name)
            return None
        table.update_where(
            F.expr(_bool_pred_sql(_translate_expr(cond))), assignments)
        _register_table_views(spark, name, table, tables)
        return None

    m = re.match(r"^ALTER\s+TABLE\s+`?(\w+)`?\s+(.*)$", text,
                 re.IGNORECASE | re.DOTALL)
    if m and re.match(r"(?is)^(ADD|DROP|RENAME|MODIFY|MATERIALIZE|"
                      r"CLEAR|COMMENT|RESET|REPLACE\s+PARTITION|"
                      r"(?:AT|DE)TACH\s+PART(?:ITION)?|"
                      r"MOVE\s+PARTITION)\b",
                      m.group(2)):
        return _alter_table_statement(spark, m.group(1), m.group(2),
                                      tables)

    # CREATE [MATERIALIZED] VIEW name AS SELECT ... (reference
    # src/Parsers/ParserCreateQuery.h; StorageMaterializedView.h) —
    # temp view over the translated select; MATERIALIZED additionally
    # persists (the batch analog of the reference's stored inner table;
    # the streaming cascade lives in streaming/materialized.py)
    # CREATE MATERIALIZED VIEW mv TO dst AS SELECT ... — the TO form
    # (StorageMaterializedView TO table): every INSERT into the
    # source propagates the select over the inserted block into dst;
    # reading mv reads dst
    mvt = re.match(
        r"^CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"`?(\w+)`?\s+TO\s+`?([\w.]+)`?\s+AS\s+((?:SELECT|WITH)\b.*)$",
        text, re.IGNORECASE | re.DOTALL)
    if mvt and tables is not None:
        name, dst, sel = mvt.groups()
        dst = dst.split(".")[-1]
        lax = str(SESSION_SETTINGS.get(
            "allow_materialized_view_with_bad_select", "0")
        ).strip().lower() in ("1", "true")
        dst_df = None
        try:
            dst_df = spark.table(dst)
        except Exception:
            dst_df = None
        if dst_df is None and not lax:
            raise ValueError(
                f"CREATE MATERIALIZED VIEW {name}: target table "
                f"{dst!r} does not exist (reference UNKNOWN_TABLE)")
        if dst_df is not None and not lax:
            # strict mode: the select must analyze and every output
            # column must exist in the target (reference
            # THERE_IS_NO_COLUMN / the bad-select rejection)
            try:
                missing = [c for c in
                           ch_sql(spark, sel, tables=tables).columns
                           if c not in set(dst_df.columns)]
            except Exception as exc:
                raise ValueError(
                    f"CREATE MATERIALIZED VIEW {name}: select does "
                    f"not analyze: {exc}") from exc
            if missing:
                raise ValueError(
                    f"CREATE MATERIALIZED VIEW {name}: column(s) "
                    f"{missing} not in target {dst!r} "
                    f"(reference THERE_IS_NO_COLUMN)")
        sm = re.search(r"(?is)\bFROM\s+`?(\w+)`?", sel)
        tables.setdefault("__mv_to__", []).append(
            {"name": name, "src": sm.group(1) if sm else None,
             "dst": dst, "select": sel})
        # reading mv reads dst PROJECTED to the MV's own column list
        # (StorageMaterializedView header): an ALTER ADD COLUMN on the
        # target later must NOT widen the view (golden 01069 — `SELECT
        # * FROM mv` keeps one column after the target gains `b`).
        # Lazy SQL view: re-registrations of dst stay visible.
        mv_cols = None
        try:
            mv_cols = ch_sql(spark, sel, tables=tables).columns
        except Exception:
            pass
        try:
            if mv_cols:
                spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW `{name}` "
                          f"AS SELECT "
                          + ", ".join(f"`{c}`" for c in mv_cols)
                          + f" FROM `{dst}`")
            else:
                spark.table(dst).createOrReplaceTempView(name)
        except Exception:
            pass
        return None

    mv = re.match(
        r"^CREATE\s+(MATERIALIZED\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"`?(\w+)`?\s*(\((?:[^()]|\([^()]*\))*\))?"
        r"(?:\s+ENGINE\s*=?\s*\w+\s*(?:\((?:[^()]|\([^()]*\))*\))?)?"
        r"(?:\s+ORDER\s+BY\s+[^;]*?)?"
        r"(?:\s+POPULATE)?\s+AS\s+"
        r"(SELECT\b.*)$",
        text, re.IGNORECASE | re.DOTALL)
    if mv:
        # ENGINE-form materialized views (StorageMaterializedView with
        # its own inner table, golden 01851) register as live views —
        # record the select so ALTER DROP COLUMN on the source can
        # reject referenced columns (ALTER_OF_COLUMN_IS_FORBIDDEN)
        if mv.group(1) and tables is not None:
            sm0 = re.search(r"(?is)\bFROM\s+`?(\w+)`?", mv.group(4))
            if sm0:
                tables.setdefault("__mv_selects__", {})[
                    mv.group(2)] = (sm0.group(1), mv.group(4))
        df = ch_sql(spark, mv.group(4), sample_by=sample_by,
                    tables=tables)
        if mv.group(3):
            # explicit column list: rename (and cast) the select's
            # output positionally (reference InterpreterCreateQuery
            # view columns; golden 01504_view_type_conversion)
            decl = [c.strip().split(None, 1)
                    for c in _split_top_commas(mv.group(3)[1:-1])
                    if c.strip()]
            if len(decl) == len(df.columns):
                sel = []
                for (parts, old) in zip(decl, df.columns):
                    col = F.col(f"`{old}`")
                    if len(parts) > 1:
                        st = _ch_decl_type_to_spark(
                            _decl_type(parts[1]))
                        try:
                            col = col.cast(st)
                        except Exception:
                            pass
                    sel.append(col.alias(parts[0].strip("`")))
                df = df.select(*sel)
        if mv.group(1):
            df = df.persist()
        df.createOrReplaceTempView(mv.group(2))
        return None            # CREATE VIEW produces no result set

    # SELECT ... INTO OUTFILE 'path' [FORMAT fmt]
    # (src/Parsers/ParserQueryWithOutput.cpp): run the select and write
    # through the format sink mapping
    mo = re.search(r"\sINTO\s+OUTFILE\s+'([^']+)'\s*(?:FORMAT\s+(\w+))?\s*$",
                   text, re.IGNORECASE)
    if mo:
        from ..sources.formats import write_format
        df = ch_sql(spark, text[:mo.start()], sample_by=sample_by,
                    tables=tables)
        write_format(df, mo.group(1), mo.group(2) or "CSVWithNames")
        return df

    # system.one: the reference's 1-row dummy table
    # (src/Storages/System/StorageSystemOne.h)
    text = re.sub(r"\bFROM\s+system\.one\b",
                  "FROM (SELECT 0 AS dummy)", text, flags=re.IGNORECASE)
    # system.tables / system.columns -> the Catalog's introspection
    # views (Catalog.register_system_tables)
    text = re.sub(r"\bsystem\.(tables|columns)\b",
                  lambda m: f"system_{m.group(1)}", text,
                  flags=re.IGNORECASE)
    text = _rewrite_columns_apply(spark, text)
    text = _rewrite_format_tvf(spark, text)

    if re.search(r"\bASOF\s+(LEFT\s+)?JOIN\b", text, re.IGNORECASE):
        text = _rewrite_asof_join(spark, text)

    if tables and re.search(r"(?i)\bjoinGet(OrNull)?\s*\(", text):
        text = _rewrite_joinget(text, tables)

    if tables and re.search(r"(?i)\bdict(Get|Has)", text):
        text = _rewrite_dictget(text, tables)


    if re.search(r"(?i)\bARRAY\s+JOIN\b", text):
        text = _shadow_array_join_aliases(spark, text)

    if re.search(r"(?i)WITH\s+(FILL|TOTALS|TIES)\b", text) \
            and re.search(r"(?is)\b(FROM|JOIN)\s*\(", text):
        text = _materialize_nested_selects(spark, text, sample_by,
                                           tables)

    if re.search(r"(?i)\bWITH\s+FILL\b", text) \
            and _SCALAR_WITH_RE.match(text):
        # scalar WITH aliases can feed FROM/TO bounds — inline them
        # before the fill clause is parsed
        text = _rewrite_scalar_with(text)
    fm = _match_order_fill(text)
    if fm is not None:
        start, specs, prefix, order_all, interp, limit_n, fs = fm
        from ..operators.fill import filling_transform
        base = text[:start].rstrip()
        df = _run_sql(spark, translate_ch_sql(base, sample_by=sample_by))
        pos_ok = str(fs.get("enable_positional_arguments", "1")) != "0"

        def _resolve(c):
            if c.isdigit():
                i = int(c)
                if pos_ok and 1 <= i <= len(df.columns):
                    return df.columns[i - 1]
                return None            # a constant — ordering no-op
            if c in df.columns or re.fullmatch(r"[\w.]+", c):
                return c
            # expression key (`-x`): match against the base query's
            # projection items — the fill runs on that OUTPUT column
            pm2 = re.match(r"(?is)^\s*(?:WITH\b.*?)??\s*SELECT\s+(.*)$",
                           base)
            if pm2:
                proj3 = pm2.group(1)
                fms3 = [mm for mm in re.finditer(r"(?i)\bFROM\b",
                                                 proj3)
                        if mm.start() in _top_level_set(proj3)]
                if fms3:
                    items3 = _split_top_commas(proj3[:fms3[-1].start()])
                    want = " ".join(c.split()).lower()
                    for k3, it3 in enumerate(items3):
                        if " ".join(it3.split()).lower() == want \
                                and k3 < len(df.columns):
                            return df.columns[k3]
            return c
        specs = [(_resolve(sp[0]),) + tuple(sp[1:]) for sp in specs]
        specs = [sp for sp in specs if sp[0] is not None]
        prefix = [(c2, d2) for c2, d2 in
                  ((_resolve(c1), d1) for c1, d1 in prefix)
                  if c2 is not None]
        order_all = [(c2, d2) for c2, d2 in
                     ((_resolve(c1), d1) for c1, d1 in order_all)
                     if c2 is not None]
        if not specs:
            translated = translate_ch_sql(text, sample_by=sample_by)
            return _run_sql(spark, translated)
        filled = filling_transform(df, specs, prefix=prefix,
                                   order_all=order_all,
                                   interpolate=interp)
        if limit_n:
            filled = filled.limit(limit_n)
        return filled
    translated = translate_ch_sql(text, sample_by=sample_by)
    if re.search(r"(?i)\bGROUPING\s+SETS\b", translated):
        translated = _grouping_sets_key_defaults(
            spark, translated, tables)
    if _QUERY_LOG:
        _QUERY_LOG[-1][3] = " ".join(translated.split())
    df = _run_sql(spark, translated)
    return _keyless_identity_defaults_df(df, translated, tables)


def _grouping_sets_key_defaults(spark, translated: str, tables):
    """CH fills grouping keys ABSENT from a grouping set with the
    column type's DEFAULT (0 / '' — non-Nullable key columns cannot
    hold NULL, GroupingSetsTransform), where Spark emits NULL (the
    SQL-standard shape).  Wrap bare-column key projections in
    coalesce(col, default) when the column is not declared Nullable
    (golden 01883_grouping_sets_crash: want `0 0`, not a NULL row)."""
    tops = _top_level_set(translated)
    gm = next((m for m in re.finditer(r"(?i)\bGROUPING\s+SETS\s*\(",
                                      translated)
               if m.start() in tops), None)
    pm = re.match(r"(?is)^\s*SELECT\s+(?:DISTINCT\s+)?", translated)
    if gm is None or pm is None:
        return translated
    gs_end = _matching_paren(translated, translated.index(
        "(", gm.end() - 1))
    gs_text = translated[gm.end():gs_end] if gs_end > 0 else ""
    fm = next((m for m in re.finditer(
        r"(?i)\bFROM\s+`?(\w+)`?", translated)
        if m.start() in tops), None)
    if fm is None:
        return translated
    try:
        schema = {f.name: f.dataType
                  for f in spark.table(fm.group(1)).schema.fields}
    except Exception:
        return translated
    t = (tables or {}).get(fm.group(1))
    if t is None:
        # only DECLARED tables carry non-Nullable metadata; a bare
        # catalog view's parquet columns may hold genuine NULL groups
        return translated
    nullc = _decls(t).nullable
    from pyspark.sql import types as _T
    proj_end = next((m.start() for m in re.finditer(
        r"(?i)\bFROM\b", translated) if m.start() in tops),
        len(translated))
    items = _split_top_commas(translated[pm.end():proj_end])
    out_items = []
    changed = False
    for it in items:
        im = re.fullmatch(r"\s*`?(\w+)`?\s*(?:AS\s+`?(\w+)`?\s*)?", it,
                          re.IGNORECASE)
        c = im.group(1) if im else None
        if (c and c in schema and c not in nullc
                and re.search(rf"(?<![\w.`]){re.escape(c)}(?![\w`(])",
                              gs_text)):
            dt = schema[c]
            if isinstance(dt, _T.StringType):
                d = "''"
            elif isinstance(dt, (_T.DateType,)):
                d = "DATE '1970-01-01'"
            elif isinstance(dt, (_T.TimestampType,
                                 _T.TimestampNTZType)):
                d = "TIMESTAMP '1970-01-01 00:00:00'"
            elif isinstance(dt, _T.NumericType):
                d = "0"
            else:
                out_items.append(it.strip())
                continue
            alias = (im.group(2) or c)
            out_items.append(f"coalesce({c}, {d}) AS `{alias}`")
            changed = True
        else:
            out_items.append(it.strip())
    out = (translated[:pm.end()] + ", ".join(out_items) + " "
           + translated[proj_end:]) if changed else translated

    def _default_of(c):
        dt = schema.get(c)
        if dt is None or c in nullc:
            return None
        if isinstance(dt, _T.StringType):
            return "''"
        if isinstance(dt, _T.DateType):
            return "DATE '1970-01-01'"
        if isinstance(dt, (_T.TimestampType, _T.TimestampNTZType)):
            return "TIMESTAMP '1970-01-01 00:00:00'"
        if isinstance(dt, _T.NumericType):
            return "0"
        return None

    # ORDER BY over a HIDDEN grouping key sorts its filled default
    # too (the reference column never holds NULL)
    otops = _top_level_set(out)
    om = None
    for mm in re.finditer(r"(?i)\bORDER\s+BY\s", out):
        if mm.start() in otops:
            om = mm
    if om is not None:
        tail_m = next((mm for mm in re.finditer(
            r"(?i)\b(LIMIT|OFFSET|SETTINGS)\b", out[om.end():])
            if om.end() + mm.start() in otops), None)
        ob_end = om.end() + tail_m.start() if tail_m else len(out)
        oitems = []
        ochanged = False
        for it in _split_top_commas(out[om.end():ob_end]):
            bm = re.fullmatch(
                r"\s*`?(\w+)`?\s*((?:ASC|DESC)?\s*"
                r"(?:NULLS\s+(?:FIRST|LAST))?\s*)", it,
                re.IGNORECASE)
            c = bm.group(1) if bm else None
            d = _default_of(c) if c else None
            if (d is not None and re.search(
                    rf"(?<![\w.`]){re.escape(c)}(?![\w`(])", gs_text)):
                oitems.append(f"coalesce({c}, {d}) "
                              f"{bm.group(2).strip()}".strip())
                ochanged = True
            else:
                oitems.append(it.strip())
        if ochanged:
            out = (out[:om.end()] + ", ".join(oitems) + " "
                   + out[ob_end:])
            changed = True
    return out if changed else translated


def _keyless_identity_defaults_df(df, translated: str, tables):
    """Second half of the empty-set default contract (see
    _wrap_keyless_agg_defaults): identity aggregates (min/max/any)
    over BARE COLUMNS have no syntactically evident type, so the
    string pass skips them — here the RESULT SCHEMA gives the exact
    type, and coalesce with the CH type default is applied per output
    column.  Columns declared Nullable keep NULL (the reference's
    AggregateFunctionNull adapter)."""
    if df is None:
        return df
    if str(SESSION_SETTINGS.get("aggregate_functions_null_for_empty",
                                "0")).strip().lower() in ("1", "true"):
        return df
    try:
        m = re.match(r"(?is)^\s*SELECT\s", translated)
        if m is None:
            return df
        tops = _top_level_set(translated)
        from_i = None
        for mm in re.finditer(r"(?i)\bFROM\b", translated):
            if mm.start() in tops:
                from_i = mm.start()
                break
        if from_i is None:
            return df
        rest = translated[from_i:]
        rtops = _top_level_set(rest)
        if any(mm.start() in rtops
               for mm in re.finditer(r"(?i)\bGROUP\s+BY\b", rest)):
            return df
        body = translated[m.end():from_i]
        if re.match(r"(?is)^\s*DISTINCT\b", body):
            return df
        items = _split_top_commas(body)
        # a bare star item breaks select-item <-> output-column
        # positional mapping (count(*) inside a call is fine)
        if any(re.fullmatch(r"(?:[\w.`]+\.)?\*", it.strip())
               for it in items):
            return df
        # positive list: only columns DECLARED non-Nullable in
        # session-created tables get the empty-set default — anything
        # else (Spark-native views, parquet loads, Nullable decls) may
        # legitimately carry NULL through an aggregate
        # (AggregateFunctionNull keeps NULL for the no-values state)
        non_nullable: set = set()
        nullable: set = set()
        for d in _session_decls(tables).values():
            nullable |= d.nullable
            non_nullable |= set(d.columns) - d.nullable
        non_nullable -= nullable
        if len(items) != len(df.columns):
            return df
        out, changed = [], False
        for i, it in enumerate(items):
            f = df.schema.fields[i]
            txt = it.strip()
            itops = _top_level_set(txt)
            core = txt
            for am in re.finditer(r"(?is)\sAS\s", txt):
                if am.start() in itops:
                    core = txt[:am.start()].strip()
            cm = re.match(r"(?is)^([a-z_]\w*)\s*\(", core)
            col = F.col(f"`{f.name}`")
            fn = cm.group(1).lower() if cm else ""
            if (cm is not None
                    and (fn in _WKAD_IDENT_AGGS or fn == "sum"
                         or fn in _WKAD_NAN_AGGS)
                    and _matching_paren(core, cm.end() - 1)
                    == len(core) - 1):
                arg = core[cm.end():-1].strip().strip("`")
                if re.fullmatch(r"[\w.`]+", arg) \
                        and arg.split(".")[-1].strip("`") in non_nullable:
                    if fn in _WKAD_NAN_AGGS:
                        # the reference's moment aggregates are
                        # Float64 (empty → nan); only a DOUBLE result
                        # keeps the type under the nan fill
                        if f.dataType.simpleString() == "double":
                            col = F.coalesce(
                                col, F.lit(float("nan")))
                            changed = True
                    else:
                        col = F.coalesce(col, F.expr(
                            _ch_type_default_sql(f.dataType))
                            .cast(f.dataType))
                        changed = True
            out.append(col.alias(f.name))
        return df.select(*out) if changed else df
    except Exception:
        return df


def _run_sql(spark, translated: str):
    """spark.sql with the error-triggered retries: each round tries
    its ``_retry_*`` passes in order on the last failure and submits
    the first rewrite that applies (see ``_RETRY_ROUNDS``).  Spark's
    SQLQueryContextLogger stays quiet meanwhile, so a statement a
    retry rescues logs no ERROR; one that fails for good still
    raises.  The CH NULLS-direction rewrite
    (_rewrite_order_by_null_direction) applies transparently at each
    submit so the retry pattern-matchers keep operating on the clean
    translated text."""
    import logging

    from pyspark.logger import PySparkLogger

    def _submit(text: str):
        if re.search(r"(?i)\bORDER\s+BY\b", text):
            text = _rewrite_order_by_null_direction(text)
        return spark.sql(text)

    # PySparkLogger, not logging.getLogger: a plain Logger cached
    # under this name breaks pyspark's logger.exception(errorClass=)
    qlog = PySparkLogger.getLogger("SQLQueryContextLogger")
    level = qlog.level
    qlog.setLevel(logging.CRITICAL)
    try:
        text = translated
        for passes in _RETRY_ROUNDS:
            try:
                return _submit(text)
            except Exception as e:
                text = next((r for r in (globals()[p](text, e)
                                          for p in passes)
                              if r is not None), None)
                if text is None:
                    raise
        return _submit(text)
    finally:
        qlog.setLevel(level)


def _retry_collate_drop(translated: str, err: Exception):
    """collate() over a non-string sort key: drop the collation (the
    pre-collation behavior; numeric order is collation-independent)."""
    msg = str(err)
    if "collate" not in msg.lower() \
            or "DATATYPE_MISMATCH" not in msg:
        return None
    out = re.sub(r"(?is)\bcollate\s*\(((?:[^()]|\([^()]*\))*),"
                 r"\s*'[\w-]+'\s*\)", r"\1", translated)
    return out if out != translated else None


def _retry_ambiguous_ref(translated: str, err: Exception):
    """An unqualified column that exists on BOTH join sides resolves
    to the LEFT table in the reference (IdentifierSemantics
    membership ordering); Spark raises AMBIGUOUS_REFERENCE.  Qualify
    the bare uses with the first (left) candidate and re-plan."""
    m = re.search(r"Reference `([^`]+)` is ambiguous, could be: "
                  r"\[([^\]]+)\]", str(err))
    if m is None:
        return None
    name = m.group(1)
    cands = re.findall(r"`([^`]+)`\.`([^`]+)`", m.group(2))
    cands = [(q, c) for q, c in cands if c == name]
    if not cands:
        return None
    # the reference resolves to the LEFT-MOST table carrying the
    # column — the error's candidate order is NOT source order, so
    # rank qualifiers by their first appearance in the statement
    def first_pos(q):
        mm = re.search(rf"(?<![\w.`]){re.escape(q)}\b", translated)
        return mm.start() if mm else len(translated)
    lq, lcol = min(cands, key=lambda qc: first_pos(qc[0]))
    out = []
    i, n = 0, len(translated)
    changed = False
    stack: list[bool] = []      # per open paren: is it a subquery?
    while i < n:
        c = translated[i]
        if c in "'\"`":
            j = _skip_string(translated, i)
            out.append(translated[i:j])
            i = j
            continue
        if c == "(":
            nxt = translated[i + 1:i + 40].lstrip().upper()
            stack.append(nxt.startswith(("SELECT", "WITH")))
            out.append(c)
            i += 1
            continue
        if c == ")":
            if stack:
                stack.pop()
            out.append(c)
            i += 1
            continue
        mm = _IDENT.match(translated, i)
        if mm and mm.group(0) == name and not any(stack):
            # only the OUTER scope's bare uses are the ambiguous ones
            # — a use inside a subquery resolves in its own scope
            sofar = "".join(out).rstrip()
            prev = sofar[-1:]
            prev3 = sofar[-3:].upper()
            if prev != "." and not prev3.endswith("AS") \
                    and not translated[mm.end():].lstrip().startswith("("):
                out.append(f"`{lq}`.`{name}`")
                changed = True
                i = mm.end()
                continue
        if mm:
            out.append(mm.group(0))
            i = mm.end()
            continue
        out.append(c)
        i += 1
    return "".join(out) if changed else None


_BOOL_ARITH_CMP = r"[^()<>=!]*(?:=|!=|<>|<=|>=|<|>)[^()<>=!]*"


def _retry_bool_agg_arg(translated: str, err: Exception):
    """``sum(a = b)`` / ``avg(cond)`` — CH comparisons are UInt8 and
    aggregate directly (golden 00103 `sum(x = 'lit') = count()`);
    Spark's sum/avg/min/max reject BOOLEAN.  Retry casting the
    aggregate's boolean argument to INT."""
    msg = str(err)
    if "UNEXPECTED_INPUT_TYPE" not in msg or "BOOLEAN" not in msg:
        return None
    m = re.search(r'"(sum|avg|min|max)\(', msg)
    if m is None:
        return None
    fn = m.group(1)
    out, pos, changed = translated, 0, False
    while True:
        m2 = re.search(rf"(?i)\b{fn}\s*\(", out[pos:])
        if m2 is None:
            break
        op = pos + m2.end() - 1
        cl = _matching_paren(out, op)
        if cl < 0:
            break
        arg = out[op + 1:cl]
        # only args carrying a top-level comparison get the cast
        if re.search(r"(=|<|>|!=|<>| LIKE | IN )",
                     _sub_nonstring(arg, lambda s: s)):
            out = (out[:op + 1] + f"CAST(({arg}) AS INT)"
                   + out[cl:])
            changed = True
            pos = op + 1 + len(f"CAST(({arg}) AS INT)") + 1
        else:
            pos = cl + 1
    return out if changed else None


def _retry_bool_arith(translated: str, err: Exception):
    """CH comparisons are UInt8 and participate in arithmetic
    (``(a > b) + 1`` — reference src/Functions/FunctionsComparison.h
    UInt8 results); Spark's are strictly BOOLEAN.  Error-triggered
    retry: cast parenthesized comparison groups adjacent to an
    arithmetic operator to INT."""
    msg = str(err)
    if "BINARY_OP_DIFF_TYPES" not in msg or "BOOLEAN" not in msg:
        return None
    out = re.sub(
        rf"\(({_BOOL_ARITH_CMP})\)(\s*[+\-*/%])",
        r"CAST((\1) AS INT)\2", translated)
    out = re.sub(
        rf"([+\-*/%]\s*)\(({_BOOL_ARITH_CMP})\)",
        r"\1CAST((\2) AS INT)", out)
    return out if out != translated else None


def _retry_not_numeric(translated: str, err: Exception):
    """CH ``NOT x`` takes numbers (nonzero = true —
    FunctionsLogical.cpp), e.g. ``WHERE NOT ignore(c)``; Spark's NOT
    requires BOOLEAN.  Retry wrapping each NOT operand in
    ``(x <> 0)``."""
    msg = str(err)
    if '"(NOT ' not in msg or "BOOLEAN" not in msg:
        return None
    out, pos, changed = translated, 0, False
    while True:
        m = re.search(r"(?i)\bNOT\s+(?!IN\b|LIKE\b|ILIKE\b|"
                      r"BETWEEN\b|EXISTS\b|NULL\b|NOT\b)", out[pos:])
        if m is None:
            break
        start = pos + m.end()
        if out[max(0, pos + m.start() - 4):pos + m.start()].rstrip() \
                .upper().endswith("IS"):
            pos += m.end()
            continue
        end = _expr_right_boundary(out, start)
        operand = out[start:end].strip()
        if not operand or re.match(r"(?i)^\(*\s*(true|false)\b",
                                   operand):
            pos += m.end()
            continue
        repl = f"(({operand}) <> 0)"
        out = out[:start] + repl + out[end:]
        changed = True
        pos = start + len(repl)
    return out if changed else None


def _retry_int_logical(translated: str, err: Exception):
    """CH logical operators take NUMBERS (nonzero = true — reference
    src/Functions/FunctionsLogical.cpp), so ``(a > b) + 1 AND
    (a > c) + 1`` is valid there; Spark's AND/OR require BOOLEAN.
    Error-triggered retry: wrap arithmetic-shaped AND/OR operands in
    ``(x <> 0)``."""
    msg = str(err)
    if "BINARY_OP_WRONG_TYPE" not in msg or "BOOLEAN" not in msg:
        return None
    edits = []     # (start, end, replacement)
    for m in re.finditer(r"(?i)\b(AND|OR)\b", translated):
        pre = translated[:m.start()]
        if m.group(1).upper() == "AND":
            lastb = max((mm.start() for mm in
                         re.finditer(r"(?i)\bbetween\b", pre)),
                        default=-1)
            lasta = max((mm.start() for mm in
                         re.finditer(r"(?i)\b(and|or)\b", pre)),
                        default=-1)
            if lastb > lasta:
                continue       # BETWEEN lo AND hi claims this AND
        ls = _expr_left_boundary(translated, m.start())
        left = translated[ls:m.start()].strip()
        if left and re.search(r"[+\-*/%]\s*[\w)]+\s*$", left) \
                and not re.search(r"(?i)\b(IS|NOT|NULL|LIKE|IN|"
                                  r"BETWEEN)\b\s*$", left):
            edits.append((ls, m.start(), f"(({left}) <> 0) "))
        rm = re.match(r"\s*", translated[m.end():])
        rs = m.end() + rm.end()
        re_ = _expr_right_boundary(translated, rs)
        right = translated[rs:re_].strip()
        if right and re.search(r"[+\-*/%]", right) \
                and not re.match(r"(?is)^\(?\s*SELECT\b", right):
            edits.append((rs, re_, f"(({right}) <> 0) "))
    if not edits:
        return None
    # chained AND/OR (a+1 AND b+2 AND c+3) claims the middle operand
    # TWICE — as the right of one AND and the left of the next; dedupe
    # by span and drop any edit overlapping an accepted one, else the
    # replacements corrupt the SQL
    accepted: list[tuple[int, int, str]] = []
    for s, e, r in sorted(set(edits)):
        if any(s < ae and ase < e
               for ase, ae, _ in accepted):
            continue
        accepted.append((s, e, r))
    for s, e, r in sorted(accepted, reverse=True):
        translated = translated[:s] + r + translated[e:]
    return translated


def _retry_distinct_order_expr(translated: str, err: Exception):
    """``SELECT DISTINCT expr ... ORDER BY f(expr)`` — the reference
    sorts by any function OF the selected expressions; Spark requires
    ORDER BY items of a DISTINCT to appear in the select list.  Retry:
    name each distinct item, substitute its text inside ORDER BY, and
    sort in an outer query."""
    if "cannot be resolved" not in str(err):
        return None
    sm = re.match(r"(?is)^\s*SELECT\s+DISTINCT\s", translated)
    if sm is None:
        return None
    tops = _top_level_set(translated)
    om = None
    for mm in re.finditer(r"(?i)\bORDER\s+BY\s", translated):
        if mm.start() in tops:
            om = mm
    if om is None:
        return None
    from_i = next((mm.start() for mm in
                   re.finditer(r"(?i)\bFROM\b", translated)
                   if mm.start() in tops), None)
    if from_i is None or from_i > om.start():
        return None
    items = _split_top_commas(translated[sm.end():from_i])
    ob = translated[om.end():]
    inner, changed = [], False
    for i, it in enumerate(items):
        txt = it.strip()
        itops = _top_level_set(txt)
        has_alias = any(am.start() in itops for am in
                        re.finditer(r"(?is)\sAS\s", txt))
        if has_alias or "*" in txt:
            inner.append(txt)
            continue
        if txt in ob:
            ob = ob.replace(txt, f"__d{i}")
            changed = True
            inner.append(f"{txt} AS __d{i}")
        else:
            inner.append(txt)
    if not changed:
        return None
    return (f"SELECT * FROM (SELECT DISTINCT {', '.join(inner)} "
            f"{translated[from_i:om.start()]}) __dq ORDER BY {ob}")


def _retry_order_by_hidden(translated: str, err: Exception):
    """CH sorts aggregate results by GROUPING EXPRESSIONS that are not
    in the projection (``SELECT sum(u) ... GROUP BY id % 3 AS k
    ORDER BY k``); Spark resolves ORDER BY over a GROUPING SETS
    aggregate against the output list only.  Retry: materialize each
    ORDER BY item as a hidden ``__obN`` projection column, sort in an
    outer query, and drop the helpers."""
    m = re.search(r"name `([^`]+)`(?:\.`[^`]+`)? cannot be resolved",
                  str(err))
    if m is None:
        return None
    name = m.group(1)
    sm = re.match(r"(?is)^\s*SELECT\s(?!\s*DISTINCT)", translated)
    if sm is None:
        return None
    tops = _top_level_set(translated)
    if not any(mm.start() in tops for mm in
               re.finditer(r"(?i)\bGROUP\s+BY\b", translated)):
        return None
    om = None
    for mm in re.finditer(r"(?i)\bORDER\s+BY\s", translated):
        if mm.start() in tops:
            om = mm
    if om is None:
        return None
    tail_m = next(
        (mm for mm in re.finditer(r"(?i)\b(LIMIT|OFFSET|SETTINGS)\b",
                                  translated[om.end():])
         if om.end() + mm.start() in tops), None)
    ob_end = om.end() + tail_m.start() if tail_m \
        else len(translated)
    ob = translated[om.end():ob_end]
    if not re.search(rf"(?<![\w.`]){re.escape(name)}\b", ob):
        return None
    specs = []
    for it in _split_top_commas(ob):
        dm = re.search(r"(?is)\s(?:(?:ASC|DESC)(?:\s+NULLS\s+"
                       r"(?:FIRST|LAST))?|NULLS\s+(?:FIRST|LAST))"
                       r"\s*$", it)
        e = (it[:dm.start()] if dm else it).strip()
        specs.append((e, it[dm.start():].strip() if dm else ""))
    head = translated[:om.start()]
    htops = _top_level_set(head)
    from_i = next((mm.start() for mm in
                   re.finditer(r"(?i)\bFROM\b", head)
                   if mm.start() in htops), None)
    if from_i is None:
        return None
    inner = (head[:from_i].rstrip() + ", "
             + ", ".join(f"{e} AS __ob{i}"
                         for i, (e, _) in enumerate(specs))
             + " " + head[from_i:])
    order = ", ".join(f"__ob{i} {s}".strip()
                      for i, (_, s) in enumerate(specs))
    helpers = ", ".join(f"__ob{i}" for i in range(len(specs)))
    return (f"SELECT * EXCEPT ({helpers}) FROM ({inner}) __obq "
            f"ORDER BY {order} " + translated[ob_end:])


def _retry_missing_aggregation(translated: str, err: Exception):
    """A SELECT item that is an inline-alias of a GROUP-BY-dependent
    expression (``SELECT sum((2*id) AS func), func ... GROUP BY id`` —
    reference QueryAnalyzer resolves func = 2*id as functionally
    dependent on the key; golden 02498): Spark demands it in GROUP BY,
    so append the named expression to the GROUP BY list (grouping is
    unchanged when the dependence holds — the only case the reference
    accepts)."""
    msg = str(err)
    if "MISSING_AGGREGATION" not in msg:
        return None
    mm = re.search(r'expression "([^"]+)"', msg)
    if mm is None:
        return None
    name = mm.group(1).strip("`")
    if not re.fullmatch(r"\w+", name):
        return None
    tops = _top_level_set(translated)
    gm = next((g for g in re.finditer(r"(?i)\bGROUP\s+BY\s+",
                                      translated)
               if g.start() in tops), None)
    if gm is None:
        return None
    # already listed → a different failure, don't loop
    gb_end = next((c.start() for c in _CLAUSE_AFTER_FROM_RE.finditer(
        translated, gm.end()) if c.start() in tops), len(translated))
    gb = translated[gm.end():gb_end]
    if re.search(rf"(?<![\w.`]){re.escape(name)}(?![\w.`])", gb):
        return None
    return (translated[:gb_end].rstrip() + f", `{name}` "
            + translated[gb_end:])


def _retry_octet_length_array(translated: str, err: Exception):
    """CH length() is polymorphic (bytes for String, cardinality for
    Array/Map — src/Functions/array/length.cpp); the textual translator
    guesses from syntax and defaults to octet_length.  When the
    analyzer reports the operand is actually ARRAY/MAP typed, swap
    that octet_length call to cardinality (golden 01521 `length(c.d)`
    over a Nested member array)."""
    msg = str(err)
    if "DATATYPE_MISMATCH" not in msg or "octet_length" not in msg \
            or ('"ARRAY' not in msg and '"MAP' not in msg):
        return None
    m = re.search(r'"octet_length\((.*?)\)" due to', msg,
                  re.IGNORECASE | re.DOTALL)
    target = m.group(1).replace("`", "").strip() if m else None
    out, pos, changed = [], 0, False
    low = translated.lower()
    while True:
        i = low.find("octet_length(", pos)
        if i < 0:
            out.append(translated[pos:])
            break
        close = _matching_paren(translated, i + len("octet_length"))
        inner = translated[i + len("octet_length(")
                           :close] if close > 0 else None
        if inner is not None and (
                target is None
                or inner.replace("`", "").strip() == target):
            out.append(translated[pos:i])
            out.append(f"cardinality({inner})")
            pos = close + 1
            changed = True
        else:
            out.append(translated[pos:i + len("octet_length(")])
            pos = i + len("octet_length(")
    return "".join(out) if changed else None


def _retry_using_qualified(translated: str, err: Exception):
    """``alias.key`` where ``key`` is a USING-join key of that side:
    the reference resolves qualified USING keys (QueryAnalyzer keeps
    per-side key columns visible — golden 01504_rocksdb ``A.a = B.a
    ... USING a``); Spark hides the right side's key after USING and
    the resolver falls back to a struct-field read, dying
    AMBIGUOUS_REFERENCE / UNRESOLVED_COLUMN.  Retry: rewrite every
    ``alias.key`` whose alias is a USING-join side to the bare
    coalesced ``key`` (equal on matched rows; LEFT-join unmatched
    rows keep the left value, the reference's default-fill analog
    under join_use_nulls=0)."""
    msg = str(err)
    if "AMBIGUOUS_REFERENCE" not in msg \
            and "UNRESOLVED_COLUMN" not in msg:
        return None
    mm = re.search(r"`(\w+)`\.`(\w+)`", msg)
    if mm is None:
        return None
    # every USING join: right alias immediately before USING, plus
    # table refs named in the same FROM chain — collect (alias, key)
    pairs = set()
    for um in re.finditer(r"(?is)(?:AS\s+)?`?(\w+)`?\s+USING\s*"
                          r"\(([^()]*)\)", translated):
        alias = um.group(1)
        keys = [k.strip(" `") for k in um.group(2).split(",")]
        for k in keys:
            pairs.add((alias.lower(), k.lower()))
            # left-side aliases of the same join chain also qualify;
            # collect every plain `name` or `) AS name` alias in the
            # statement (cheap over-approximation — only alias.key
            # spellings that EXIST in the text get rewritten)
            for am in re.finditer(
                    r"(?is)(?:\)|\bFROM|\bJOIN)\s+(?:AS\s+)?"
                    r"`?(\w+)`?(?:\s+(?:AS\s+)?`?(\w+)`?)?",
                    translated):
                pairs.add((am.group(1).lower(), k.lower()))
                if am.group(2) and am.group(2).upper() not in (
                        "ON", "USING", "JOIN", "LEFT", "RIGHT",
                        "INNER", "FULL", "CROSS", "WHERE", "GROUP",
                        "ORDER", "LIMIT", "HAVING", "UNION", "SEMI",
                        "ANTI", "GLOBAL", "ANY", "ASOF", "SETTINGS",
                        "FINAL", "AS"):
                    pairs.add((am.group(2).lower(), k.lower()))
    alias, key = mm.group(1).lower(), mm.group(2).lower()
    if (alias, key) not in pairs:
        return None
    # rewrite ONLY the alias.key the resolver reported (ADVICE r12:
    # the collected pairs are an over-approximation used for
    # validation, not a rewrite list), and never inside string
    # literals; further unresolved pairs re-enter via the second-level
    # retry chain.
    out = _sub_nonstring(
        translated,
        lambda seg: re.sub(rf"(?i)\b{alias}\s*\.\s*`?{key}`?\b",
                           f"`{key}`", seg))
    return out if out != translated else None


def _retry_using_alias(translated: str, err: Exception):
    """``JOIN ... USING (b)`` where ``b`` is a SELECT-list alias
    (``a + 2 AS b``), not a column of that side (reference
    QueryAnalyzer resolves USING against projection output names —
    golden 02989_join_using_parent_scope).  Error-triggered retry:
    inject the alias expression as a column of the failing side via a
    subquery keeping the original name visible."""
    m = re.search(r"USING column `([^`]+)` can ?not be resolved on "
                  r"the (left|right) side", str(err))
    if m is None:
        return None
    key, side = m.group(1), m.group(2)
    if side == "right":
        # the reference resolves projection aliases for the LEFT side
        # only (02989: `SELECT 1 AS b FROM tb JOIN ta USING (b)` is
        # UNKNOWN_IDENTIFIER)
        return None
    sm = re.match(r"(?is)^\s*SELECT\s", translated)
    if sm is None:
        return None
    tops = _top_level_set(translated)
    from_i = None
    for mm in re.finditer(r"(?i)\bFROM\b", translated):
        if mm.start() in tops:
            from_i = mm.start()
            break
    if from_i is None:
        return None
    # the projection item aliased AS key
    expr = None
    for it in _split_top_commas(translated[sm.end():from_i]):
        txt = it.strip()
        itops = _top_level_set(txt)
        for am in re.finditer(r"(?is)\sAS\s", txt):
            if am.start() in itops \
                    and txt[am.end():].strip().strip("`") == key:
                expr = txt[:am.start()].strip()
    if expr is None:
        return None
    rest = translated[from_i:]

    def _side_ref(text: str, kw_end: int):
        """(ref_text, alias, span_end) of the table ref after position
        ``kw_end`` — a bare name or a parenthesized subquery, plus an
        optional alias."""
        mm = re.match(r"\s*", text[kw_end:])
        p = kw_end + mm.end()
        if p < len(text) and text[p] == "(":
            close = _matching_paren(text, p)
            if close < 0:
                return None
            ref = text[p:close + 1]
            al = re.match(r"\s+(?:AS\s+)?(`?\w+`?)", text[close + 1:],
                          re.IGNORECASE)
            alias = al.group(1).strip("`") if al else None
            return ref, alias, (close + 1 + al.end() if al
                                else close + 1)
        nm = re.match(r"(`?\w+`?)(\s+(?:AS\s+)?"
                      r"(?!JOIN\b|LEFT\b|RIGHT\b|FULL\b|INNER\b|"
                      r"CROSS\b|SEMI\b|ANTI\b|GLOBAL\b|ASOF\b|ANY\b|"
                      r"PASTE\b|WHERE\b|GROUP\b|ORDER\b|ARRAY\b|"
                      r"USING\b|ON\b)(`?\w+`?))?",
                      text[p:], re.IGNORECASE)
        if nm is None:
            return None
        ref = nm.group(1)
        alias = ((nm.group(3) or "").strip("`")
                 or ref.strip("`"))
        return ref, alias, p + nm.end()

    sr = _side_ref(rest, len("FROM"))
    if sr is None:
        return None
    ref, alias, span_end = sr
    alias = alias or "__ul"
    wrapped = (f"FROM (SELECT *, {expr} AS `{key}` FROM {ref} "
               f"AS __ub) AS {alias}"
               if ref.startswith("(")
               else f"FROM (SELECT *, {expr} AS `{key}` "
                    f"FROM {ref}) AS {alias}")
    return translated[:from_i] + wrapped + rest[span_end:]


def _retry_ts_num_compare(translated: str, err: Exception):
    """DateTime column compared with a NUMBER (reference
    FunctionComparison coerces the number to the DateTime's epoch —
    golden 02864 `WHERE dt = 7`): Spark ANSI rejects
    timestamp-vs-integer; retry casting the numeric side through
    timestamp_seconds."""
    msg = str(err)
    if "BINARY_OP_DIFF_TYPES" not in msg or "TIMESTAMP" not in msg:
        return None
    m = re.search(r'"\(([\w.`]+) (=|<>|!=|<=|>=|<|>) (\d+(?:\.\d+)?)\)"',
                  msg)
    flip = False
    if m is None:
        m = re.search(r'"\((\d+(?:\.\d+)?) (=|<>|!=|<=|>=|<|>) '
                      r'([\w.`]+)\)"', msg)
        flip = True
    if m is None:
        return None
    col, op2, num = ((m.group(1), m.group(2), m.group(3))
                     if not flip else
                     (m.group(3), m.group(2), m.group(1)))
    pat = (re.escape(num) + r"\s*" + re.escape(op2) + r"\s*"
           + re.escape(col) if flip else
           re.escape(col) + r"\s*" + re.escape(op2) + r"\s*"
           + re.escape(num) + r"(?![\w.])")
    rep = (f"timestamp_seconds({num}) {op2} {col}" if flip
           else f"{col} {op2} timestamp_seconds({num})")
    out = _sub_nonstring(
        translated, lambda seg: re.sub(pat, rep, seg))
    return out if out != translated else None


def _retry_lateral_agg_alias(translated: str, err: Exception):
    """A SELECT item referencing a SIBLING item's alias INSIDE an
    aggregate — ``SELECT number % 2 AS d, min(d)`` (reference
    QueryAnalyzer: aliases are query-global, golden
    max_length_alias / alias_bug_dist families).  Spark resolves the
    sibling as a lateral column alias but refuses it inside aggregate
    functions; retry by substituting the alias's defining
    expression."""
    msg = str(err)
    # ...IN_AGGREGATE_FUNC / IN_WINDOW / IN_GROUP_BY variants all mean
    # the same thing here: substitute the defining expression
    if "LATERAL_COLUMN_ALIAS_IN" not in msg:
        return None
    m = re.search(r"lateral column alias `([^`]+)`", msg)
    if m is None:
        return None
    name = m.group(1)
    am = re.search(rf"\bAS\s+`?{re.escape(name)}`?\b", translated,
                   re.IGNORECASE)
    if am is None:
        return None
    start = _expr_left_boundary(translated, am.start())
    expr = translated[start:am.start()].strip()
    if not expr or expr.upper().startswith("SELECT"):
        return None
    # substitute standalone uses outside the definition itself
    out, i, n, changed = [], 0, len(translated), False
    while i < n:
        c = translated[i]
        if c in "'\"`":
            j = _skip_string(translated, i)
            out.append(translated[i:j])
            i = j
            continue
        mm = _IDENT.match(translated, i)
        if mm and mm.group(0) == name and not (start <= i <= am.end()):
            nxt = translated[mm.end():mm.end() + 2].lstrip()[:1]
            prev = "".join(out).rstrip()
            if nxt != "(" and not prev.upper().endswith("AS") \
                    and not prev.endswith("."):
                out.append(f"({expr})")
                changed = True
                i = mm.end()
                continue
        if mm:
            out.append(mm.group(0))
            i = mm.end()
            continue
        out.append(c)
        i += 1
    return "".join(out) if changed else None


def _retry_alias_in_where(translated: str, err: Exception):
    """CH allows SELECT-list aliases in WHERE/GROUP BY/HAVING
    (reference QueryNormalizer alias substitution; SURVEY 'non-standard
    SQL semantics').  Applied ONLY as an error-triggered retry: when
    Spark reports an unresolved column whose name matches a projection
    alias, substitute the alias's expression at its use sites and
    re-plan — plain queries never pay for or change under this."""
    m = re.search(r"name `([^`]+)` cannot be resolved", str(err))
    if m is None:
        return None
    name = m.group(1)
    # find `<expr> AS name` in the outermost select list
    am = re.search(rf"\bAS\s+`?{re.escape(name)}`?\b", translated,
                   re.IGNORECASE)
    if am is None:
        return None
    start = _expr_left_boundary(translated, am.start())
    expr = translated[start:am.start()].strip()
    if not expr or expr.upper().startswith("SELECT"):
        return None
    # substitute standalone uses OUTSIDE the alias definition itself
    out = []
    i, n = 0, len(translated)
    changed = False
    while i < n:
        c = translated[i]
        if c in "'\"`":
            j = _skip_string(translated, i)
            out.append(translated[i:j])
            i = j
            continue
        mm = _IDENT.match(translated, i)
        if mm and mm.group(0) == name and not (start <= i <= am.end()):
            nxt = translated[mm.end():mm.end() + 2].lstrip()[:1]
            prev = "".join(out).rstrip()[-3:].upper()
            if nxt != "(" and not prev.endswith("AS"):
                out.append(f"({expr})")
                changed = True
                i = mm.end()
                continue
        if mm:
            out.append(mm.group(0))
            i = mm.end()
            continue
        out.append(c)
        i += 1
    return "".join(out) if changed else None


# _run_sql's retry rounds: round 1 tries every pass on the first
# failure; a rewritten statement that still fails gets round 2, then
# one more USING-qualified pass (each rewrites only the single
# alias.key the resolver reported).  Passes are named, and looked up
# at each failure, so a module-level replacement of one takes effect
_RETRY_ROUNDS = (
    ("_retry_alias_in_where", "_retry_lateral_agg_alias",
     "_retry_ts_num_compare", "_retry_ambiguous_ref", "_retry_collate_drop",
     "_retry_using_alias", "_retry_using_qualified",
     "_retry_octet_length_array", "_retry_missing_aggregation",
     "_retry_bool_arith", "_retry_bool_agg_arg", "_retry_not_numeric",
     "_retry_int_logical", "_retry_order_by_hidden",
     "_retry_distinct_order_expr"),
    ("_retry_ambiguous_ref", "_retry_using_alias", "_retry_using_qualified",
     "_retry_int_logical"),
    ("_retry_using_qualified",),
)


# ------------------------------------------------- utility statements
# Reference interpreters: InterpreterShowTablesQuery.h,
# InterpreterDescribeQuery.h, InterpreterExistsQuery.h,
# InterpreterDropQuery.h, InterpreterRenameQuery.h,
# InterpreterCheckQuery.h, InterpreterSetQuery.h,
# InterpreterUseQuery.h, InterpreterKillQueryQuery.h,
# InterpreterShowProcesslistQuery.h, InterpreterShowCreateQuery.h.

_NO_MATCH = object()
SESSION_SETTINGS: dict = {}
_CURRENT_DATABASE = ["default"]

_SPARK_TO_CH_TYPE = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "String", "date": "Date",
    "timestamp": "DateTime64(6)", "timestamp_ntz": "DateTime64(6)",
    "boolean": "Bool", "binary": "String",
}


def _spark_type_str_to_ch(s: str) -> str:
    """simpleString TEXT -> CH type name (same mapping as
    _spark_type_to_ch but over typeof()'s runtime string, so
    toTypeName can render reference-style names)."""
    s = s.strip()
    low = s.lower()
    if low in _SPARK_TO_CH_TYPE:
        return _SPARK_TO_CH_TYPE[low]
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", low)
    if m:
        p, sc = int(m.group(1)), int(m.group(2))
        if (p, sc) == (20, 0):
            return "UInt64"
        if (p, sc) == (38, 0):
            return "Int128"
        # canonical render (DataTypesDecimal.cpp:30 getName —
        # "Decimal(P, S)", never the DecimalNN(S) spelling)
        return f"Decimal({p}, {sc})"
    m = re.fullmatch(r"(?s)array<(.*)>", low)
    if m:
        return f"Array({_spark_type_str_to_ch(m.group(1))})"
    m = re.fullmatch(r"(?s)map<(.*)>", low)
    if m:
        parts = _split_angle_commas(m.group(1))
        if len(parts) == 2:
            return (f"Map({_spark_type_str_to_ch(parts[0])}, "
                    f"{_spark_type_str_to_ch(parts[1])})")
    m = re.fullmatch(r"(?s)struct<(.*)>", low)
    if m:
        names, types = [], []
        for f in _split_angle_commas(m.group(1)):
            name, _, t = f.partition(":")
            names.append(name.strip().strip("`"))
            types.append(_spark_type_str_to_ch(t))
        if all(re.fullmatch(r"col\d+", n) for n in names):
            # positional tuple carrier: UNNAMED render (single-line,
            # no field names — tuple.cpp getName)
            return f"Tuple({', '.join(types)})"
        # NAMED tuples render multi-line with 4-space nesting
        # (DataTypeTuple getName; goldens 01825/02874)
        fields = []
        for n, t in zip(names, types):
            t = t.replace("\n", "\n    ")
            fields.append(f"\n    {n} {t}")
        return "Tuple(" + ",".join(fields) + ")"
    if low == "void":
        return "Nothing"
    if low == "interval":
        return "IntervalSecond"
    return s


def _split_angle_commas(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for c in s:
        if c == "<":
            depth += 1
        elif c == ">":
            depth -= 1
        elif c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        cur.append(c)
    if cur:
        out.append("".join(cur))
    return out


def _spark_type_to_ch(dt) -> str:
    """Spark type -> CH type name for DESCRIBE output
    (DataTypeFactory names; containers recurse)."""
    s = dt.simpleString()
    if s in _SPARK_TO_CH_TYPE:
        return _SPARK_TO_CH_TYPE[s]
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", s)
    if m:
        p, sc = int(m.group(1)), int(m.group(2))
        # the engine's unsigned/wide carriers round-trip to their CH
        # declarations (UInt64 -> DECIMAL(20,0), Int128 -> (38,0))
        if (p, sc) == (20, 0):
            return "UInt64"
        if (p, sc) == (38, 0):
            return "Int128"
        # canonical render (DataTypesDecimal.cpp:30 getName)
        return f"Decimal({p}, {sc})"
    from pyspark.sql import types as T
    if isinstance(dt, T.ArrayType):
        return f"Array({_spark_type_to_ch(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return (f"Map({_spark_type_to_ch(dt.keyType)}, "
                f"{_spark_type_to_ch(dt.valueType)})")
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {_spark_type_to_ch(f.dataType)}"
                          for f in dt.fields)
        return f"Tuple({inner})"
    return s


def _resolve_view(spark, name, tables):
    if tables and name in tables:
        t = tables[name]
        return t.read() if hasattr(t, "read") else t
    try:
        return spark.table(name)
    except Exception:
        return None


_FORMAT_TVF_RE = re.compile(r"\b(FROM|JOIN)\s+format\s*\(", re.IGNORECASE)
_FMT_TVF_COUNT = [0]


def _unescape_sql_literal(s: str) -> str:
    return (s.replace("\\n", "\n").replace("\\t", "\t")
            .replace("\\'", "'").replace("''", "'").replace("\\\\", "\\"))


def _rewrite_format_tvf(spark, sql: str) -> str:
    """``FROM format(Fmt, 'inline data')`` table function (reference
    src/TableFunctions/TableFunctionFormat.cpp): materialize the
    literal through the format-reader matrix and splice in a temp view.
    Schema is inferred by the format reader, like the reference."""
    m = _FORMAT_TVF_RE.search(sql)
    if m is None:
        return sql
    import os
    import tempfile
    from ..sources.formats import read_format
    args, after = _parse_args(sql, sql.index("(", m.end() - 1))
    if len(args) < 2:
        return sql
    fmt = args[0].strip().strip("'\"")
    lit = args[1].strip()
    if not (lit.startswith("'") and lit.endswith("'")):
        return sql
    data = _unescape_sql_literal(lit[1:-1])
    if fmt.lower() in ("jsoneachrow", "jsoncompacteachrow"):
        # normalize the inline stream to ONE OBJECT PER LINE (the
        # corpus writes comma-separated objects — Spark's line-wise
        # reader would drop all but the first per line; golden 02874)
        # and read incomplete-typed EMPTY OBJECT values as their raw
        # text (input_format_json_infer_incomplete_types_as_strings;
        # golden 02876) — Spark's inference would DROP the field
        import json as _json2
        empties = "{}" in re.sub(r"\s+", "", data)

        def _nonempty_paths(v, path, acc):
            if isinstance(v, dict) and v:
                acc.add(path)
                for k, x in v.items():
                    _nonempty_paths(x, path + (k,), acc)
            elif isinstance(v, list):
                for x in v:
                    _nonempty_paths(x, path + ("[]",), acc)

        def _fill_empty(v, path, known):
            if isinstance(v, dict):
                # an {} whose path carries a REAL object in another
                # row unifies into that tuple (fields default-fill);
                # only ALWAYS-empty paths decay to the raw text
                # (golden 02874 vs 02876)
                if not v:
                    return v if path in known else "{}"
                return {k: _fill_empty(x, path + (k,), known)
                        for k, x in v.items()}
            if isinstance(v, list):
                return [_fill_empty(x, path + ("[]",), known)
                        for x in v]
            return v
        def _reject_dup_pairs(pairs):
            seen = set()
            for k, _v in pairs:
                if k in seen:
                    # JSONEachRowRowInputFormat seen-fields check /
                    # nested-object tuple parse (golden 03284)
                    raise _DuplicateJsonKey(
                        f"duplicate key {k!r} in JSON object "
                        f"(reference INCORRECT_DATA)")
                seen.add(k)
            return dict(pairs)

        try:
            objs = []
            dec2 = _json2.JSONDecoder(
                object_pairs_hook=_reject_dup_pairs)
            err_budget = int(str(SESSION_SETTINGS.get(
                "input_format_allow_errors_num", "0")).strip() or 0)
            i2 = 0
            while i2 < len(data):
                if data[i2] in " \t\n\r,":
                    i2 += 1
                    continue
                obj2, i2 = dec2.raw_decode(data, i2)
                try:
                    # lone UTF-16 surrogates pass Python's JSON parser
                    # but are INCORRECT_DATA bytes to the reference —
                    # input_format_allow_errors_num skips such rows
                    # (golden 03031)
                    _json2.dumps(obj2,
                                 ensure_ascii=False).encode("utf-8")
                except UnicodeEncodeError:
                    if err_budget > 0:
                        err_budget -= 1
                        continue
                    raise ValueError(
                        "invalid UTF-8 escape in JSON row "
                        "(reference INCORRECT_DATA)")
                objs.append(obj2)
            if empties:
                known: set = set()
                for o in objs:
                    _nonempty_paths(o, (), known)
                objs = [_fill_empty(o, (), known) for o in objs]
            data = "\n".join(_json2.dumps(o) for o in objs)
        except _DuplicateJsonKey:
            raise
        except Exception:
            pass
    d = tempfile.mkdtemp(prefix="ch_format_tvf_")
    ext = {"CSV": "csv", "CSVWithNames": "csv", "TSV": "tsv",
           "TSVWithNames": "tsv", "JSONEachRow": "jsonl",
           "JSONCompactEachRow": "jsonl", "Values": "values",
           "TSKV": "tskv"}.get(fmt, "dat")
    with open(os.path.join(d, f"inline.{ext}"), "w") as fh:
        fh.write(data)
    _FMT_TVF_COUNT[0] += 1
    view = f"__fmt_tvf_{_FMT_TVF_COUNT[0]}"
    # the reference infers the inline data's types
    # (SchemaInferenceUtils.cpp); mirror with Spark's inference
    extra = {"inferSchema": "true"} if ext in ("csv", "tsv") else {}
    read_format(spark, d, fmt, **extra).createOrReplaceTempView(view)
    return _rewrite_format_tvf(
        spark, sql[:m.start()] + f"{m.group(1)} {view}" + sql[after:])


class _DuplicateJsonKey(ValueError):
    """Duplicate key inside a JSON object on a READ path (the
    reference's INCORRECT_DATA; DESC inference instead decays the
    field per the ambiguous-paths setting)."""


def _desc_jsoneachrow_infer(spark, data: str):
    """DESC format(JSONEachRow, <inline>) schema inference over the
    RAW JSON text (reference SchemaInferenceUtils; goldens
    02325/02326/02327): native numbers and numeric STRINGS are
    distinct (numbers-from-strings conversion is speculative — it
    reverts when a sibling string stays a string), heterogeneous
    arrays infer as positional Tuples, objects as named multi-line
    Tuples (or the Object type under
    allow_experimental_object_type=1).  Returns None when the inline
    text is not parseable JSON lines (the generic reader then
    applies)."""
    import json as _json

    from ..sources.rowformats import (
        _ch_infer_type, _ch_unify, _nullable_wrap)
    ambig = object()      # duplicate key with CONFLICTING types

    def _pairs_hook(pairs):
        d: dict = {}
        for k, v in pairs:
            if k in d and d[k] is not ambig \
                    and type(v) is not type(d[k]):
                # use_string_type_for_ambiguous_paths... inference
                # (03284 golden): conflicting duplicate-key types
                # decay the field to String
                d[k] = ambig
            elif k not in d or d[k] is not ambig:
                d[k] = v
        return d

    rows = []
    dec = _json.JSONDecoder(object_pairs_hook=_pairs_hook)
    i = 0
    try:
        while i < len(data):
            if data[i] in " \t\n\r,":
                i += 1
                continue
            obj, i = dec.raw_decode(data, i)
            rows.append(obj)
    except Exception:
        return None
    if not rows or not all(isinstance(r, dict) for r in rows):
        return None
    obj_on = str(SESSION_SETTINGS.get(
        "allow_experimental_object_type", "0")).strip() in ("1",
                                                            "true")
    nums_ok = str(SESSION_SETTINGS.get(
        "input_format_json_try_infer_numbers_from_strings",
        "0")).strip() in ("1", "true")

    def _num(s: str):
        if re.fullmatch(r"[-+]?\d+", s):
            return int(s)
        if re.fullmatch(r"[-+]?(?:\d+\.\d*|\.\d+|\d+)"
                        r"(?:[eE][+-]?\d+)?", s):
            return float(s)
        return None

    def infer(v) -> str:
        if v is ambig:
            return "String"
        if isinstance(v, dict):
            if obj_on:
                return "Object(Nullable('json'))"
            if not v:
                # incomplete types read as strings (reference
                # input_format_json_infer_incomplete_types_as_strings
                # default; golden 02876)
                return "String"
            parts = [f"    {k} {_nullable_wrap(infer(e))}"
                     for k, e in v.items()]
            return "Tuple(\n" + ",\n".join(parts) + ")"
        if isinstance(v, list):
            elems = list(v)
            if nums_ok:
                conv = [(_num(e) if isinstance(e, str) else None)
                        for e in elems]
                all_str_numeric = all(
                    c is not None for e, c in zip(elems, conv)
                    if isinstance(e, str))
                if all_str_numeric:
                    elems = [c if c is not None else e
                             for e, c in zip(elems, conv)]
            ets = [infer(e) for e in elems]
            t = "Nothing"
            for e in ets:
                t = _ch_unify(t, e)
            if t == "String" and any(
                    e is not None and not isinstance(e, str)
                    # empty objects ARE strings under the
                    # incomplete-types rule (golden 02876 [{}, {}])
                    and not (isinstance(e, dict) and not e)
                    for e in elems):
                return ("Tuple("
                        + ", ".join(_nullable_wrap(x) for x in ets)
                        + ")")
            return f"Array({_nullable_wrap(t)})"
        if isinstance(v, str) and nums_ok:
            n = _num(v)
            if n is not None:
                return _ch_infer_type(n)
        return _ch_infer_type(v)

    def merge_type(vals: list, indent: int) -> str:
        """Recursive named-tuple field-union across rows AND array
        elements (SchemaInferenceUtils named-tuple inference;
        golden 02874): dicts merge keys in first-seen order, arrays
        of dicts merge their ELEMENTS' keys, nested tuples indent
        4 more per level."""
        vs = [v for v in vals if v is not None]
        if not vs:
            return "Nothing"
        if all(isinstance(v, dict) for v in vs):
            if not any(vs):
                return "String"      # always-empty: incomplete rule
            keys2: list = []
            for v in vs:
                for k2 in v:
                    if k2 not in keys2:
                        keys2.append(k2)
            parts = []
            for k2 in keys2:
                sub = merge_type([v[k2] for v in vs if k2 in v],
                                 indent + 4)
                k2q = (k2 if re.fullmatch(r"\w+", k2)
                       else f"`{k2}`")
                parts.append(f"{' ' * indent}{k2q} "
                             f"{_nullable_wrap(sub)}")
            return "Tuple(\n" + ",\n".join(parts) + ")"
        if all(isinstance(v, list) for v in vs):
            elems = [e for v in vs for e in v]
            es = [e for e in elems if e is not None]
            if es and all(isinstance(e, dict) for e in es) \
                    and any(es):
                return f"Array({merge_type(es, indent)})"
            t = "Nothing"
            for e in elems:
                t = _ch_unify(t, infer(e))
            return f"Array({_nullable_wrap(t)})"
        t = "Nothing"
        for v in vs:
            t = _ch_unify(t, infer(v))
        return t

    colnames: list = []
    for r in rows:
        for k in r:
            if k not in colnames:
                colnames.append(k)
    cols = []
    for k in colnames:
        vals = [r[k] for r in rows if k in r and r[k] is not None]
        if vals and all(isinstance(v, dict) for v in vals) \
                and not obj_on and any(vals):
            # named-Tuple columns merge FIELDS across rows, unifying
            # shared fields' types (02327 golden)
            cols.append((k, merge_type(vals, 4)))
            continue
        if vals and not obj_on \
                and all(isinstance(v, list) for v in vals):
            elems = [e for v in vals for e in v if e is not None]
            if elems and all(isinstance(e, dict) for e in elems) \
                    and any(elems):
                # array-of-objects: elements merge into ONE named
                # tuple (golden 02874)
                cols.append((k, merge_type(vals, 4)))
                continue
        ts = [infer(v) for v in vals]
        if not ts:
            t = "Nothing"
        elif all(x == ts[0] for x in ts):
            t = ts[0]
        elif all(x.startswith(("Tuple(", "Object(")) for x in ts):
            t = ("Object(Nullable('json'))" if obj_on else ts[0])
        else:
            t = "Nothing"
            for x in ts:
                t = _ch_unify(t, x)
        cols.append((k, _nullable_wrap(t)))
    return spark.createDataFrame(
        [(nm, ty, "", "", "", "", "") for nm, ty in cols],
        "name string, type string, default_type string, "
        "default_expression string, comment string, "
        "codec_expression string, ttl_expression string")


def _utility_statement(spark, text: str, tables):
    """SHOW/DESCRIBE/EXISTS/DROP/RENAME/EXCHANGE/TRUNCATE/CHECK/SET/
    USE/KILL — the reference's utility-statement surface mapped onto
    the Spark catalog and managed MergeTreeTable objects.  Returns
    _NO_MATCH when ``text`` is not a utility statement."""
    m = re.match(r"^SHOW\s+DATABASES\s*$", text, re.IGNORECASE)
    if m:
        rows = sorted(d.name for d in spark.catalog.listDatabases())
        return spark.createDataFrame([(d,) for d in rows],
                                     "name string")

    m = re.match(r"^SHOW\s+TABLES(?:\s+FROM\s+`?(\w+)`?)?"
                 r"(?:\s+LIKE\s+'([^']*)')?\s*$", text, re.IGNORECASE)
    if m:
        names = {t.name for t in spark.catalog.listTables()}
        names |= set(tables or ())
        pat = m.group(2)
        if pat is not None:
            rx = re.compile(
                "^" + re.escape(pat).replace("%", ".*").replace("_", ".")
                + "$", re.IGNORECASE)
            names = {n for n in names if rx.match(n)}
        return spark.createDataFrame([(n,) for n in sorted(names)],
                                     "name string")

    m = re.match(r"^SHOW\s+PROCESSLIST\s*$", text, re.IGNORECASE)
    if m:
        # single-session engine: the one live query is this statement
        return spark.createDataFrame(
            [("default", " ".join(text.split()), 0.0)],
            "user string, query string, elapsed double")

    m = re.match(r"^SHOW\s+CREATE\s+(TEMPORARY\s+)?(?:TABLE\s+)?"
                 r"`?(\w+)`?(?:\s+FORMAT\s+\w+)?\s*$", text,
                 re.IGNORECASE)
    if m:
        name = m.group(2)
        df = _resolve_view_safe(spark, name, (tables or {}).get(name))
        if df is None:
            raise ValueError(f"SHOW CREATE: unknown table {name!r}")
        t = (tables or {}).get(name)
        engine = getattr(t, "engine", None) or "Memory"
        eng_name = "".join(w.capitalize() for w in str(engine).split("_"))
        temp = bool(m.group(1)) or \
            name in (tables or {}).get("__temp__", set())
        # the reference renders CREATE statements multi-line with
        # 4-space column indent (formatAST; golden 00564) — the
        # DECLARED CH types when recorded (golden 02997: `t` DateTime,
        # not the carrier's DateTime64), the Spark schema otherwise
        decls = _decls(t)
        col_lines = ([f"    {c}" for c in decls.decl_texts]
                     if decls.decl_texts else
                     [f"    `{f.name}` {_spark_type_to_ch(f.dataType)}"
                      for f in df.schema.fields])
        stats2 = decls.stats
        if stats2:
            # STATISTICS clauses render in canonical kind order after
            # the type (StatisticsDescription formatting; golden 02864)
            for k2, line2 in enumerate(col_lines):
                nm9 = re.match(r"\s*`?(\w+)`?", line2)
                if nm9 and stats2.get(nm9.group(1)):
                    col_lines[k2] = (line2 + " STATISTICS("
                                     + ", ".join(stats2[nm9.group(1)])
                                     + ")")
        codecs2 = decls.codecs
        if codecs2:
            # CODEC clauses render canonically after the type
            # (getCodecDesc; golden 01455)
            for k2, line2 in enumerate(col_lines):
                nm9 = re.match(r"\s*`?(\w+)`?", line2)
                if nm9 and codecs2.get(nm9.group(1)):
                    col_lines[k2] = (line2 + " CODEC("
                                     + codecs2[nm9.group(1)] + ")")
        # PROJECTION declarations render as their own block
        # (formatAST projection formatting, golden 02997)
        for pname, psel in decls.projections:
            sm2 = re.match(r"(?is)^\s*SELECT\s+(.*?)"
                           r"(?:\s+ORDER\s+BY\s+(.*?))?\s*$", psel)
            lines = [f"    PROJECTION {pname}", "    ("]
            if sm2:
                items = _split_top_commas(sm2.group(1))
                if len(items) == 1:
                    lines.append(f"        SELECT {items[0].strip()}")
                else:
                    lines.append("        SELECT")
                    lines.extend(
                        f"            {it.strip()}"
                        + ("," if k < len(items) - 1 else "")
                        for k, it in enumerate(items))
                if sm2.group(2):
                    lines.append(f"        ORDER BY "
                                 f"{sm2.group(2).strip()}")
            else:
                lines.append(f"        {psel}")
            lines.append("    )")
            col_lines.append("\n".join(lines))
        cols = ",\n".join(col_lines)
        kw = "TEMPORARY TABLE" if temp else "TABLE"
        # non-temporary tables print database-qualified
        # (InterpreterShowCreateQuery always qualifies; golden 02864)
        qname = name if temp else f"{_CURRENT_DATABASE[0]}.{name}"
        stmt = f"CREATE {kw} {qname}\n(\n{cols}\n)\nENGINE = {eng_name}"
        order = getattr(t, "order_by", None)
        if order:
            stmt += ("\nORDER BY " + (order[0] if len(order) == 1
                                      else f"({', '.join(order)})"))
        elif "MergeTree" in eng_name:
            # an empty sort key prints as its tuple() spelling
            stmt += "\nORDER BY tuple()"
        if not temp and "MergeTree" in eng_name:
            stmt += "\nSETTINGS index_granularity = 8192"
        return spark.createDataFrame([(stmt,)], "statement string")

    m = re.match(r"^SHOW\s+SETTING\s+(\S.*)$", text, re.IGNORECASE)
    if m:
        # the NAME is one identifier token, possibly backquoted; a
        # quoted token containing operators/quotes is still a single
        # (unknown) setting name, never an injectable predicate
        # (reference ParserShowSettingQuery reads one identifier)
        raw = m.group(1).strip()
        if raw.startswith("`") and raw.endswith("`") and len(raw) >= 2:
            raw = raw[1:-1]
        elif not re.fullmatch(r"\w+", raw):
            raise ValueError(f"SHOW SETTING: malformed name {raw!r}")
        if raw in SESSION_SETTINGS:
            return spark.createDataFrame(
                [(str(SESSION_SETTINGS[raw]),)], "value string")
        safe = raw.replace("\\", "\\\\").replace("'", "\\'")
        return ch_sql(spark,
                      f"SELECT value FROM system.settings "
                      f"WHERE name = '{safe}'")

    m = re.match(r"^(?:DESCRIBE|DESC)\s+(format\s*\(.*\))"
                 r"(?:\s+FORMAT\s+\w+)?\s*$",
                 text, re.IGNORECASE | re.DOTALL)
    if m:
        # DESC over the format() table function: infer the schema by
        # reading the inline literal (TableFunctionFormat + Interpreter
        # DescribeQuery).  Values has its own inference — the generic
        # reader needs an explicit schema (golden 02325).
        fargs, _after = _parse_args(
            m.group(1), m.group(1).index("("))
        fmt0 = fargs[0].strip().strip("'\"").lower() if fargs else ""
        lit0 = fargs[1].strip() if len(fargs) >= 2 else ""
        if lit0.startswith("'") and fmt0 == "jsoneachrow":
            out0 = _desc_jsoneachrow_infer(
                spark, _unescape_sql_literal(lit0[1:-1]))
            if out0 is not None:
                return out0
        if lit0.startswith("'") and fmt0 in ("values", "csv", "tsv",
                                             "tabseparated"):
            from ..sources.rowformats import (
                _ch_infer_type, _ch_unify, _nullable_wrap,
                _parse_values_literal, infer_values_schema)
            data = _unescape_sql_literal(lit0[1:-1])
            if fmt0 == "values":
                cols = infer_values_schema(data)
            else:
                # the reference's text-format inference works on the
                # raw cell text (SchemaInferenceUtils): numbers type,
                # date-like strings type, single-quoted composites
                # parse (golden 02325 CSV/TSV sections)
                import csv as _csv
                import io as _io
                import json as _json
                delim = "," if fmt0 == "csv" else "\t"
                rows2 = list(_csv.reader(_io.StringIO(data),
                                         delimiter=delim))

                def _cell(v):
                    s = v.strip()
                    if s in ("", "\\N", "NULL"):
                        return None
                    if re.fullmatch(r"[-+]?\d+", s):
                        return int(s)
                    if re.fullmatch(r"[-+]?(?:\d+\.\d*|\.\d+|\d+)"
                                    r"(?:[eE][+-]?\d+)?", s):
                        return float(s)
                    if s[:1] in "[{(":
                        try:
                            return _json.loads(s)
                        except Exception:
                            pass
                        try:
                            v2, j = _parse_values_literal(s, 0)
                            if j >= len(s.rstrip()):
                                return v2
                        except Exception:
                            pass
                    return s
                ncols = max((len(r) for r in rows2), default=0)
                cols = []
                for ci in range(ncols):
                    t = "Nothing"
                    for r in rows2:
                        if ci < len(r):
                            t = _ch_unify(
                                t, _ch_infer_type(_cell(r[ci])))
                    cols.append((f"c{ci + 1}", _nullable_wrap(t)))
            return spark.createDataFrame(
                [(nm, ty, "", "", "", "", "") for nm, ty in cols],
                "name string, type string, default_type string, "
                "default_expression string, comment string, "
                "codec_expression string, ttl_expression string")
        df = ch_sql(spark, f"SELECT * FROM {m.group(1)}", tables=tables)
        # schema INFERENCE yields Nullable scalars in the reference
        # (SchemaInference; composites cannot be Nullable)
        def _null_elems(ch):
            m2 = re.fullmatch(r"Array\((.+)\)", ch)
            if m2:
                return f"Array({_null_elems(m2.group(1))})"
            if ch.startswith(("Nullable(", "Map(", "Tuple(")):
                return ch
            return f"Nullable({ch})"

        def _infer_name(dt):
            ch = _spark_type_to_ch(dt)
            if ch.startswith("Tuple(") and str(SESSION_SETTINGS.get(
                    "allow_experimental_object_type",
                    "0")).strip() in ("1", "true"):
                # nested JSON objects infer as the Object type when
                # the experimental setting is on (02326 golden)
                return "Object(Nullable('json'))"
            if ch.startswith(("Array(", "Map(", "Tuple(")):
                return _null_elems(ch)
            return f"Nullable({ch})"
        names = [(f.name, _infer_name(f.dataType))
                 for f in df.schema.fields]
        # date/datetime detection inside string values (reference
        # SchemaInferenceUtils try_infer_dates/datetimes=1 defaults;
        # golden 02325) — the inline data is tiny by construction
        if any("String" in ch or ch.startswith("Tuple(")
               for _, ch in names):
            from ..sources.rowformats import (
                _ch_infer_type, _ch_unify, _nullable_wrap)
            sample = df.limit(100).collect()
            up = []
            for (nm, ch), f in zip(names, df.schema.fields):
                if ch.startswith("Tuple(") and \
                        f.dataType.typeName() == "struct":
                    # named Tuples render MULTI-LINE with date
                    # detection per field (formatAST + inference)
                    parts = []
                    for sf in f.dataType.fields:
                        t = "Nothing"
                        for r in sample:
                            v = r[nm]
                            if v is not None \
                                    and v[sf.name] is not None:
                                t = _ch_unify(
                                    t, _ch_infer_type(v[sf.name]))
                        leaf = (_nullable_wrap(t) if t != "Nothing"
                                else f"Nullable("
                                     f"{_spark_type_to_ch(sf.dataType)})")
                        parts.append(f"    {sf.name} {leaf}")
                    ch = "Tuple(\n" + ",\n".join(parts) + ")"
                elif "String" in ch and "Map(" not in ch \
                        and "Tuple(" not in ch:
                    import json as _json
                    nums_ok = str(SESSION_SETTINGS.get(
                        "input_format_json_try_infer_numbers_from_"
                        "strings", "0")).strip() in ("1", "true")

                    def _reify(v):
                        # Spark's JSON reader stringifies nested
                        # arrays; the reference infers through them
                        if isinstance(v, list):
                            out = [_reify(e) for e in v]
                            # numbers-from-strings is SPECULATIVE: if
                            # any string element stays a string, the
                            # converted ones revert (02326: ["123",
                            # "Some string"] is Array(String), but
                            # [123, "Some string"] is a Tuple)
                            conv = [isinstance(o, str)
                                    and isinstance(r2, (int, float))
                                    for o, r2 in zip(v, out)]
                            kept = [isinstance(o, str)
                                    and isinstance(r2, str)
                                    for o, r2 in zip(v, out)]
                            if any(conv) and any(kept):
                                out = [o if c else r2 for o, r2, c
                                       in zip(v, out, conv)]
                            return out
                        if isinstance(v, dict):
                            return {k: _reify(e)
                                    for k, e in v.items()}
                        if isinstance(v, str):
                            s = v.strip()
                            if s[:1] in "[{":
                                try:
                                    return _reify(_json.loads(s))
                                except Exception:
                                    pass
                                try:
                                    # CH single-quoted composite text
                                    # (the CSV carrier of arrays/maps)
                                    from ..sources.rowformats import (
                                        _parse_values_literal)
                                    v2, j = _parse_values_literal(s, 0)
                                    if j >= len(s.rstrip()) and \
                                            isinstance(v2, (list,
                                                            dict)):
                                        return v2
                                except Exception:
                                    pass
                                return v
                            if nums_ok and re.fullmatch(
                                    r"[-+]?\d+", s):
                                return int(s)
                            if nums_ok and re.fullmatch(
                                    r"[-+]?(?:\d+\.\d*|\.\d+|\d+)"
                                    r"(?:[eE][+-]?\d+)?", s):
                                return float(s)
                        return v
                    vals = [_reify(r[nm]) for r in sample
                            if r[nm] is not None]
                    t = "Nothing"
                    for v in vals:
                        t = _ch_unify(t, _ch_infer_type(v))
                    newt = _nullable_wrap(t)
                    if vals and newt != "Nullable(String)":
                        ch = newt
                up.append((nm, ch))
            names = up
        # headerless formats: the reference names columns c1..cN
        # (Spark: _c0.._cN-1)
        rows = [(re.sub(r"^_c(\d+)$",
                        lambda m2: f"c{int(m2.group(1)) + 1}", nm),
                 ch, "", "", "", "", "") for nm, ch in names]
        return spark.createDataFrame(
            rows, "name string, type string, default_type string, "
                  "default_expression string, comment string, "
                  "codec_expression string, ttl_expression string")

    m = re.match(r"^(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?`?(\w+)`?\s*"
                 r"(?:SETTINGS\s+describe_extend_object_types\s*=\s*"
                 r"(\d))?\s*$",
                 text, re.IGNORECASE)
    if m:
        df = _resolve_view(spark, m.group(1), tables)
        if df is None:
            raise ValueError(f"DESCRIBE: unknown table {m.group(1)!r}")
        t = (tables or {}).get(m.group(1))
        extend_obj = (m.group(2) or "0").strip() == "1"
        decls = _decls(t)
        dflts, nullc = decls.defaults, decls.nullable
        codecs, objc = decls.codecs, decls.obj

        def _desc_type(f):
            if f.name in objc:
                if extend_obj:
                    # describe_extend_object_types=1: the finalized
                    # tuple name (golden 01825_type_json_describe)
                    cht = decls.obj_ch_types.get(f.name)
                    if cht:
                        return cht
                # DESCRIBE shows the DECLARED Object type, lowercase
                # argument (golden 01825_type_json_describe)
                for d0 in decls.decl_texts:
                    nm0 = re.match(r"`?(\w+)`?\s+(.*)", d0)
                    if nm0 and nm0.group(1) == f.name:
                        return re.sub(
                            r"'(\w+)'",
                            lambda m0: f"'{m0.group(1).lower()}'",
                            nm0.group(2).strip())
                return "Object('json')"
            ch = _spark_type_to_ch(f.dataType)
            return f"Nullable({ch})" if f.name in nullc else ch

        rows = [(f.name, _desc_type(f),
                 "DEFAULT" if f.name in dflts else "",
                 dflts.get(f.name, ""), "",
                 codecs.get(f.name, ""),
                 "") for f in df.schema.fields]
        return spark.createDataFrame(
            rows, "name string, type string, default_type string, "
                  "default_expression string, comment string, "
                  "codec_expression string, ttl_expression string")

    m = re.match(r"^EXISTS\s+(?:TABLE\s+)?`?(\w+)`?\s*$",
                 text, re.IGNORECASE)
    if m:
        df = _resolve_view(spark, m.group(1), tables)
        return spark.createDataFrame([(1 if df is not None else 0,)],
                                     "result int")

    m = re.match(r"^DROP\s+TABLE\s+(IF\s+EXISTS\s+)?`?(\w+)`?"
                 r"(?:\s+SYNC)?\s*$",
                 text, re.IGNORECASE)
    if m:
        name = m.group(2)
        known = (tables is not None and name in tables) or \
            spark.catalog.tableExists(name)
        if not known and not m.group(1):
            raise ValueError(f"DROP TABLE: unknown table {name!r}")
        spark.catalog.dropTempView(name)
        spark.catalog.dropTempView(f"{name}__final")
        t = tables.pop(name, None) if tables is not None else None
        amap = (tables or {}).get("__alias__") or {}
        amap.pop(name, None)
        # a Replicated replica sharing the storage keeps it, as a table
        # of its own; Distributed aliases read through `name` and stay
        # (they fail until `name` exists again, as in the reference)
        heirs = [a for a, v in (tables or {}).items()
                 if t is not None and v is t]
        for a in heirs:
            amap.pop(a, None)
            _register_table_views(spark, a, t, tables)
        import os as _os
        path = getattr(t, "path", None)
        # the reference removes the data on DROP (at once with SYNC);
        # storage another name still uses (a replica, or a new table
        # under the name this one was renamed from) stays
        if path and _os.path.dirname(path) == _default_table_dir() \
                and all(getattr(v, "path", None) != path
                        for v in (tables or {}).values()):
            import shutil as _shutil
            _shutil.rmtree(path, ignore_errors=True)
        return None

    m = re.match(r"^RENAME\s+TABLE\s+`?(\w+)`?\s+TO\s+`?(\w+)`?\s*$",
                 text, re.IGNORECASE)
    if m:
        old, new = m.group(1), m.group(2)
        t = (tables or {}).get(old)
        df = None
        if t is None:
            df = _resolve_view(spark, old, tables)
            if df is None:
                raise ValueError(f"RENAME: unknown table {old!r}")
        if tables is not None and old in tables:
            tables[new] = tables.pop(old)
        spark.catalog.dropTempView(old)
        spark.catalog.dropTempView(f"{old}__final")
        if df is None:
            # the table object moves: a MergeTree table keeps its
            # storage directory (the reference's Atomic database keeps
            # data under a per-table UUID); CREATE TABLE <old> then
            # picks a directory of its own
            _register_table_views(spark, new, t, tables)
        else:
            df.createOrReplaceTempView(new)
        return None

    m = re.match(r"^EXCHANGE\s+TABLES\s+`?(\w+)`?\s+AND\s+`?(\w+)`?\s*$",
                 text, re.IGNORECASE)
    if m:
        a, b = m.group(1), m.group(2)
        da = _resolve_view(spark, a, tables)
        db_ = _resolve_view(spark, b, tables)
        if da is None or db_ is None:
            raise ValueError("EXCHANGE: both tables must exist")
        if tables is not None:
            ta, tb = tables.get(a), tables.get(b)
            if ta is not None or tb is not None:
                tables[a], tables[b] = tb, ta
                for k in (a, b):
                    if tables[k] is None:
                        tables.pop(k)
        da.createOrReplaceTempView(b)
        db_.createOrReplaceTempView(a)
        return None

    m = re.match(r"^TRUNCATE\s+(?:TABLE\s+)?`?(\w+)`?\s*$",
                 text, re.IGNORECASE)
    if m:
        name = m.group(1)
        t = (tables or {}).get(name)
        if hasattr(t, "truncate"):
            t.truncate()
            _register_table_views(spark, name, t, tables)
            return None
        df = _resolve_view(spark, name, tables)
        if df is None:
            raise ValueError(f"TRUNCATE: unknown table {name!r}")
        df.limit(0).createOrReplaceTempView(name)
        return None

    m = re.match(r"^CHECK\s+TABLE\s+`?(\w+)`?\s*$", text, re.IGNORECASE)
    if m:
        df = _resolve_view(spark, m.group(1), tables)
        if df is None:
            raise ValueError(f"CHECK TABLE: unknown table {m.group(1)!r}")
        ok = 1
        try:
            df.count()  # full read = the reference's part checksum walk
        except Exception:
            ok = 0
        return spark.createDataFrame([(ok,)], "result int")

    m = re.match(r"^SET\s+(\w+)\s*=\s*(.+?)\s*$", text, re.IGNORECASE)
    if m and m.group(1).lower() not in ("role",):
        SESSION_SETTINGS[m.group(1)] = m.group(2).strip("'")
        # settings with a direct Spark runtime equivalent apply live
        live = {"max_threads": "spark.sql.shuffle.partitions",
                "session_timezone": "spark.sql.session.timeZone"}
        tgt = live.get(m.group(1).lower())
        if tgt:
            spark.conf.set(tgt, m.group(2).strip("'"))
        return None

    m = re.match(r"^USE\s+`?(\w+)`?\s*$", text, re.IGNORECASE)
    if m:
        _CURRENT_DATABASE[0] = m.group(1)
        return None

    if re.match(r"^KILL\s+QUERY\b", text, re.IGNORECASE):
        # single-session engine: nothing to kill by the time we parse
        return spark.createDataFrame(
            [], "kill_status string, query_id string")

    return _NO_MATCH


_CREATE_RE = re.compile(
    r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*\((.*)\)\s*"
    r"ENGINE\s*=?\s*(\w+)\s*"
    r"(?:\(((?:[^()]|\([^()]*\))*)\))?\s*(.*)$",
    re.IGNORECASE | re.DOTALL)
_ENGINE_NAMES = {
    "mergetree": "merge_tree",
    "replacingmergetree": "replacing",
    "summingmergetree": "summing",
    "collapsingmergetree": "collapsing",
    "versionedcollapsingmergetree": "versioned_collapsing",
    "coalescingmergetree": "coalescing",
    "aggregatingmergetree": "aggregating",
    # Replicated* variants: replication is Spark's executor/storage
    # concern — the merge semantics are the base engine's; the first
    # two engine args (zk path, replica name) drop
    "replicatedmergetree": "merge_tree",
    "replicatedreplacingmergetree": "replacing",
    "replicatedsummingmergetree": "summing",
    "replicatedcollapsingmergetree": "collapsing",
    "replicatedversionedcollapsingmergetree": "versioned_collapsing",
    "replicatedaggregatingmergetree": "aggregating",
}


_STAT_TYPES = ("tdigest", "uniq", "countmin", "minmax")


def _stats_int_representable(ch_type: str) -> bool:
    t = ch_type.strip()
    for _ in range(4):
        m = re.match(r"(?is)^(?:Nullable|LowCardinality)\s*\((.*)\)$",
                     t)
        if m is None:
            break
        t = m.group(1).strip()
    return bool(re.match(
        r"(?i)^(U?Int\d*$|U?Int\d+|Float(32|64)|Decimal\d*\s*\(|"
        r"Date32?$|Date$|DateTime(64)?\b|Enum(8|16)?\s*\(|IPv4$|"
        r"Bool(ean)?$)", t))


def _stats_stringish(ch_type: str) -> bool:
    t = ch_type.strip()
    for _ in range(4):
        m = re.match(r"(?is)^(?:Nullable|LowCardinality)\s*\((.*)\)$",
                     t)
        if m is None:
            break
        t = m.group(1).strip()
    return bool(re.match(r"(?i)^(String$|FixedString\s*\()", t))


def _validate_stat_types(kinds: list, ch_type: str) -> None:
    """Reference src/Storages/Statistics/Statistics.cpp validation:
    unknown kinds and duplicates are INCORRECT_QUERY; tdigest/minmax
    need integer-representable values, uniq/countmin also accept
    (Fixed)String — else ILLEGAL_STATISTICS (golden 02864)."""
    if str(SESSION_SETTINGS.get("allow_experimental_statistics",
                                "0")) != "1":
        raise ValueError("INCORRECT_QUERY: statistics need "
                         "allow_experimental_statistics = 1")
    seen2: set = set()
    for k in kinds:
        kl = k.strip().lower()
        if kl not in _STAT_TYPES:
            raise ValueError(
                f"INCORRECT_QUERY: unknown statistics type {k!r}")
        if kl in seen2:
            raise ValueError(
                f"INCORRECT_QUERY: duplicate statistics type {k!r}")
        seen2.add(kl)
        ok = (_stats_int_representable(ch_type)
              or (kl in ("uniq", "countmin")
                  and _stats_stringish(ch_type)))
        if not ok:
            raise ValueError(
                f"ILLEGAL_STATISTICS: {kl} cannot be created on "
                f"type {ch_type}")


def _decl_type(rest: str) -> str:
    """The type expression at the head of a column declaration tail:
    a name plus one balanced parenthesized argument list, stopping
    before DEFAULT/MATERIALIZED/ALIAS/CODEC/TTL/COMMENT modifiers."""
    rest = rest.strip()
    m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", rest)
    if not m:
        return rest
    i = m.end()
    while i < len(rest) and rest[i] in " \t":
        i += 1
    if i < len(rest) and rest[i] == "(":
        depth = 0
        while i < len(rest):
            if rest[i] == "'":
                i = _skip_string(rest, i)
                continue
            if rest[i] == "(":
                depth += 1
            elif rest[i] == ")":
                depth -= 1
                if depth == 0:
                    i += 1
                    break
            i += 1
        return rest[:i]
    return m.group(0)


def _ch_decl_type_to_spark(t: str) -> str:
    """CH column-declaration type -> Spark SQL type string (reference
    src/DataTypes/DataTypeFactory.cpp names): scalar map via the
    conversion table; Nullable/LowCardinality unwrap; Array/Map/Tuple
    recurse; Enum8/16 carries as STRING; FixedString(n) as STRING;
    DateTime64(s[, tz]) as TIMESTAMP; Decimal(p, s) native."""
    from ..functions.registry import _CH_TYPE_TO_SPARK
    t = t.strip().strip("`")
    low = t.lower()
    # SQL-compat aliases the reference registers in DataTypeFactory
    # (registerAlias calls: INT/INTEGER→Int32, BIGINT→Int64, …)
    aliases = {"int": "INT", "integer": "INT", "int1": "TINYINT",
               "tinyint": "TINYINT", "smallint": "SMALLINT",
               "mediumint": "INT", "bigint": "BIGINT",
               "float": "FLOAT", "real": "FLOAT", "double": "DOUBLE",
               "boolean": "BOOLEAN", "varchar": "STRING",
               "char": "STRING", "text": "STRING", "blob": "BINARY",
               "binary": "BINARY", "bytea": "BINARY",
               "timestamp": "TIMESTAMP", "json": "STRING",
               "object": "STRING", "uuid": "STRING",
               "ipv4": "STRING", "ipv6": "STRING"}
    if low in aliases:
        return aliases[low]
    if low in _CH_TYPE_TO_SPARK:
        return _CH_TYPE_TO_SPARK[low]
    m = re.fullmatch(r"(?:Nullable|LowCardinality)\s*\((.*)\)", t,
                     re.IGNORECASE | re.DOTALL)
    if m:
        return _ch_decl_type_to_spark(m.group(1))
    # SimpleAggregateFunction(f, T) stores the NESTED type itself
    # (DataTypeCustomSimpleAggregateFunction.cpp public contract)
    m = re.fullmatch(r"SimpleAggregateFunction\s*\((.*)\)", t,
                     re.IGNORECASE | re.DOTALL)
    if m:
        parts = _split_top_commas(m.group(1))
        if len(parts) >= 2:
            return _ch_decl_type_to_spark(parts[-1])
    # AggregateFunction(groupBitmap|uniq*|groupArray*|quantile*, T):
    # this engine's state carrier for the collect-family is ARRAY<T>
    # (see the groupBitmapState / -Merge rules) — declaring the column
    # ARRAY keeps inserted states intact (golden 01504_rocksdb);
    # other states stay the opaque STRING carrier
    m = re.fullmatch(r"AggregateFunction\s*\((.*)\)", t,
                     re.IGNORECASE | re.DOTALL)
    if m:
        parts = _split_top_commas(m.group(1))
        if len(parts) >= 2 and re.match(
                r"(?i)^(groupBitmap|uniqExact|groupArray|"
                r"groupUniqArray)\s*$", parts[0].strip()):
            return f"ARRAY<{_ch_decl_type_to_spark(parts[1])}>"
        return "STRING"
    m = re.fullmatch(r"Array\s*\((.*)\)", t, re.IGNORECASE | re.DOTALL)
    if m:
        return f"ARRAY<{_ch_decl_type_to_spark(m.group(1))}>"
    m = re.fullmatch(r"Map\s*\((.*)\)", t, re.IGNORECASE | re.DOTALL)
    if m:
        kv = _split_top_commas(m.group(1))
        if len(kv) == 2:
            return (f"MAP<{_ch_decl_type_to_spark(kv[0])}, "
                    f"{_ch_decl_type_to_spark(kv[1])}>")
    m = re.fullmatch(r"Tuple\s*\((.*)\)", t, re.IGNORECASE | re.DOTALL)
    if m:
        fields = []
        for i, f in enumerate(_split_top_commas(m.group(1))):
            toks = f.strip().split(None, 1)
            if len(toks) == 2 and re.fullmatch(r"`?\w+`?", toks[0]):
                fields.append(
                    f"{toks[0].strip('`')}: "
                    f"{_ch_decl_type_to_spark(toks[1])}")
            else:
                fields.append(f"col{i + 1}: {_ch_decl_type_to_spark(f)}")
        return f"STRUCT<{', '.join(fields)}>"
    if re.match(r"Enum(8|16)?\s*\(", t, re.IGNORECASE) \
            or re.match(r"FixedString\s*\(", t, re.IGNORECASE):
        return "STRING"
    m = re.fullmatch(r"DateTime(?:64)?\s*\(.*\)", t, re.IGNORECASE)
    if m:
        return "TIMESTAMP"
    m = re.fullmatch(r"Decimal\s*\((\d+)\s*,\s*(\d+)\)", t,
                     re.IGNORECASE)
    if m:
        # Decimal256 precision (up to 76) clamps at Spark's DECIMAL(38)
        # ceiling — the documented carrier (LIMITS.md).  Keep the
        # declared INTEGER digits and sacrifice scale instead: a
        # Decimal(76, 45) must still hold 31 integer digits (clamping
        # scale first would turn every whole number into an overflow
        # NULL — golden 02875).
        p0, s0 = int(m.group(1)), int(m.group(2))
        p = min(p0, 38)
        int_digits = p0 - s0
        s = min(s0, max(0, p - min(int_digits, p)))
        return f"DECIMAL({p},{s})"
    m = re.fullmatch(r"Decimal(32|64|128|256)\s*\((\d+)\)", t,
                     re.IGNORECASE)
    if m:
        prec = {"32": 9, "64": 18, "128": 38, "256": 38}[m.group(1)]
        return f"DECIMAL({prec},{min(int(m.group(2)), prec)})"
    return "STRING"


_STORAGE_CLAUSE_RE = (r"PARTITION\s+BY|ORDER\s+BY|PRIMARY\s+KEY|"
                      r"SAMPLE\s+BY|SETTINGS|TTL\b|COMMENT\b")


def _storage_clause_exprs(tail: str, kw: str) -> list[str] | None:
    """Expression list of a storage clause (``ORDER BY toDate(d), id``)
    — paren-balanced, cut at the next top-level storage keyword
    (ParserCreateQuery storage definition)."""
    m = re.search(kw + r"\s+", tail, re.IGNORECASE)
    if not m:
        return None
    rest = tail[m.end():]
    depth = 0
    end = len(rest)
    i = 0
    while i < len(rest):
        c = rest[i]
        if c in "'\"`":
            i = _skip_string(rest, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and re.match(r"(?i)(" + _STORAGE_CLAUSE_RE
                                     + r")", rest[i:]) and i > 0:
            end = i
            break
        i += 1
    seg = rest[:end].strip()
    if seg.startswith("(") and _matching_paren(seg, 0) == len(seg) - 1:
        seg = seg[1:-1].strip()
    if re.match(r"(?i)tuple\s*\(", seg) \
            and _matching_paren(seg, seg.index("(")) == len(seg) - 1:
        seg = seg[seg.index("(") + 1:-1].strip()
    return [c.strip().strip("`") for c in _split_top_commas(seg)
            if c.strip()]


def _decls(t):
    """The declared columns of session table ``t``: its ColumnDecls,
    or an empty record for an undeclared view (None) or a
    dictionary."""
    from ..sources.mergetree import ColumnDecls
    return getattr(t, "decls", None) or ColumnDecls()


def _session_decls(tables) -> dict:
    """name -> ColumnDecls of every session table that has one."""
    return {n: t.decls for n, t in (tables or {}).items()
            if not n.startswith("__") and hasattr(t, "decls")}


def _parse_column_decls(cols_src: str):
    """The one parser of a CREATE TABLE column list (reference
    ParserColumnDeclarationList / ColumnsDescription) into a
    :class:`~clickhouse_core_spark.sources.mergetree.ColumnDecls`:
    Spark DDL of the stored columns (Nested(a T, ..) expands to sibling
    `n.a` Array(T) columns), the declared CH types, Nullable, DEFAULT /
    MATERIALIZED, JSON / Object / Dynamic, DateTime('tz'),
    DateTime64(p), STATISTICS and CODEC clauses, and the PROJECTION
    declarations."""
    from ..sources.mergetree import ColumnDecls

    d = ColumnDecls()
    schema_parts = []
    for coldef in _split_top_commas(cols_src):
        pm = re.match(r"(?is)\s*PROJECTION\s+(`?\w+`?)\s*\((.*)\)\s*$",
                      coldef)
        if pm:
            d.projections.append((pm.group(1).strip("`"),
                                  pm.group(2).strip()))
        if re.match(r"(?i)\s*(PROJECTION|INDEX|CONSTRAINT|"
                    r"PRIMARY\s+KEY)\b", coldef):
            continue            # table-level declarations, not columns
        toks = coldef.strip().split(None, 1)
        if len(toks) < 2:
            continue
        cname = toks[0].strip("`")
        # Nested(a T, b U) EXPANDS to sibling array columns `n.a`
        # Array(T), `n.b` Array(U) (reference DataTypeNested /
        # NestedUtils::flatten)
        nm = re.match(r"(?is)^Nested\s*\((.*)\)\s*$", toks[1].strip())
        if nm:
            for sub in _split_top_commas(nm.group(1)):
                st = sub.strip().split(None, 1)
                if len(st) != 2:
                    continue
                schema_parts.append(
                    f"`{cname}.{st[0].strip('`')}` ARRAY<"
                    f"{_ch_decl_type_to_spark(_decl_type(st[1]))}>")
            continue
        ctype = _decl_type(toks[1])
        # DateTime[64]('tz') columns parse naive strings in THAT zone
        # (DataTypeDateTime timezone argument)
        tzm = re.match(r"(?i)\s*DateTime(?:64)?\s*\("
                       r"(?:\d+\s*,\s*)?'([^']+)'\s*\)", ctype)
        if tzm:
            d.timezones[cname] = tzm.group(1)
        scm = re.match(r"(?i)\s*(?:Nullable\s*\(\s*)?DateTime64\s*\("
                       r"\s*(\d+)", ctype)
        if scm:
            d.dt64_scales[cname] = min(int(scm.group(1)), 6)
        if re.match(r"(?i)\s*Nullable\s*\(", ctype):
            d.nullable.add(cname)
        if re.match(r"(?i)\s*Object\s*\(", ctype):
            # deprecated Object('json'): reads materialize the
            # row-union named tuple (DataTypeObject finalize —
            # goldens 01825), unlike the string-carrier JSON type
            d.obj.add(cname)
            if re.match(r"(?i)\s*Object\s*\(\s*Nullable", ctype):
                # Object(Nullable('json')): EVERY path is Nullable
                # (golden 01825_type_json_nullable)
                d.obj_nullable.add(cname)
        elif re.match(r"(?i)\s*Array\s*\(\s*Object\s*\(", ctype):
            # Array(Object('json')): per-ELEMENT tuple finalize
            # (golden 01825_type_json_in_array)
            d.obj_array.add(cname)
        elif re.match(r"(?i)\s*JSON\b", ctype):
            d.json.add(cname)
        if re.match(r"(?i)\s*Dynamic\b", ctype):
            d.dynamic.add(cname)
        stm = re.search(r"(?i)\bSTATISTICS\s*\(([^)]*)\)", toks[1])
        if stm:
            kinds0 = [x for x in
                      (s.strip() for s in stm.group(1).split(","))
                      if x]
            _validate_stat_types(kinds0, ctype)
            d.stats[cname] = sorted(
                {k.lower() for k in kinds0},
                key=_STAT_TYPES.index)
        ccm = re.search(r"(?i)\bCODEC\s*\(", toks[1])
        if ccm:
            copen = toks[1].index("(", ccm.start())
            cend = _matching_paren(toks[1], copen)
            if cend > 0:
                d.codecs[cname] = _canon_codec_text(
                    toks[1][copen + 1:cend], ctype)
        schema_parts.append(
            f"`{cname}` {_ch_decl_type_to_spark(ctype)}")
        d.decl_texts.append(f"`{cname}` {ctype}")
        dm = re.search(r"(?i)\b(DEFAULT|MATERIALIZED)\s+(.+?)"
                       r"(?:\s+(?:CODEC|TTL|COMMENT)\b.*)?$",
                       toks[1].strip())
        if dm:
            d.defaults[cname] = _translate_expr(dm.group(2).strip())
            if dm.group(1).upper() == "MATERIALIZED":
                d.materialized.add(cname)
    d.schema_ddl = ", ".join(schema_parts)
    return d


def create_table_sql(spark, sql: str, base_dir: str, tables=None):
    """``CREATE TABLE name (cols...) ENGINE = <engine>[(args)] [ORDER BY
    ...] [PARTITION BY ...]`` → a managed :class:`MergeTreeTable` at
    ``base_dir/name`` (reference src/Parsers/ParserCreateQuery.h,
    registerStorageMergeTree.cpp:931-937 — engine args are the version /
    sign / summed columns).  Column types map via the same CH→Spark
    table the conversion functions use; the schema is recorded so the
    empty table can still serve typed reads.

    Returns the MergeTreeTable; register it in a ``tables=`` dict to
    reach it from ch_sql INSERT/ALTER statements.  Given ``tables``,
    a ``base_dir/name`` that another table there still uses (one
    renamed away from ``name``) is left alone for a fresh directory.
    """
    import os as _os

    from ..sources.mergetree import MergeTreeTable

    text = sql.strip().rstrip(";")
    m = _CREATE_RE.match(text)
    if m is None:
        raise ValueError("unsupported CREATE TABLE form")
    name, cols_src, engine_raw, engine_args, tail = m.groups()
    engine = _ENGINE_NAMES.get(engine_raw.lower())
    if engine is None:
        raise NotImplementedError(f"engine {engine_raw!r} not mapped "
                                  f"(MergeTree family only)")
    args = [a.strip().strip("`")
            for a in _split_top_commas(engine_args or "")
            if a.strip()]
    if engine_raw.lower().startswith("replicated"):
        # drop the zookeeper path + replica-name args
        args = [a for a in args[2:]]
        args = [a.strip("'\"") for a in args]
    order_by: list[str] = []
    partition_by: list[str] = []
    ob = _storage_clause_exprs(tail, r"ORDER\s+BY")
    if ob is not None:
        # expression keys go through the dialect translator so
        # F.expr() can evaluate them Spark-side
        order_by = [c if re.fullmatch(r"\w+", c) else _translate_expr(c)
                    for c in ob]
    pb = _storage_clause_exprs(tail, r"PARTITION\s+BY")
    if pb is not None:
        partition_by = [c if re.fullmatch(r"\w+", c)
                        else _translate_expr(c) for c in pb]
    sb = _storage_clause_exprs(tail, r"SAMPLE\s+BY")
    sample_by_expr = (_translate_expr(sb[0])
                      if sb else None)

    decls = _parse_column_decls(cols_src)

    kwargs: dict = {}
    # deprecated OLD-STYLE engine args — MergeTree(date, [sample,]
    # (pk), granularity[, engine-specific...]) (reference
    # registerStorageMergeTree.cpp legacy syntax; golden 00564):
    # the engine-specific tail follows the integer granularity
    if args and any(re.fullmatch(r"\d+", a.strip()) for a in args):
        for gi in range(len(args) - 1, -1, -1):
            if re.fullmatch(r"\d+", args[gi].strip()):
                # the arg before the granularity is the primary-key
                # tuple — the old syntax has no ORDER BY clause
                if not order_by and gi >= 1:
                    pk = args[gi - 1].strip()
                    if pk.startswith("(") and pk.endswith(")"):
                        order_by = [c.strip(" `") for c in
                                    _split_top_commas(pk[1:-1])]
                    else:
                        order_by = [pk.strip("`")]
                args = args[gi + 1:]
                break
    if engine == "replacing":
        kwargs["version_col"] = args[0] if args else None
        if len(args) > 1:
            kwargs["is_deleted_col"] = args[1]
    elif engine in ("collapsing", "versioned_collapsing"):
        kwargs["sign_col"] = args[0] if args else None
        if engine == "versioned_collapsing" and len(args) > 1:
            kwargs["version_col"] = args[1]
    elif engine == "summing" and args:
        kwargs["sum_cols"] = args
    path = _unused_table_dir(_os.path.join(base_dir, name), name, tables)
    if _os.path.isdir(path):
        # CREATE TABLE starts empty — clear parts left behind by an
        # earlier session reusing the same managed-table name
        import shutil as _shutil
        _shutil.rmtree(path, ignore_errors=True)
    table = MergeTreeTable(spark, path,
                           order_by=order_by,
                           partition_by=partition_by, engine=engine,
                           column_defaults=decls.defaults or None,
                           **kwargs)
    table.decls = decls
    table.sample_by_expr = sample_by_expr
    return table


_CTAS_RE = re.compile(
    r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s+"
    r"ENGINE\s*=?\s*(\w+)\s*(?:\(([^)]*)\))?\s*(.*?)\s*AS\s+(SELECT\b.*)$",
    re.IGNORECASE | re.DOTALL)


def _distributed_local_table(text: str):
    """``ENGINE = Distributed(cluster, db, tbl[, sharding_key])`` —
    the LOCAL table the Distributed engine proxies reads and writes to
    (reference src/Storages/StorageDistributed.h:45; the test corpus
    uses test_shard_localhost, i.e. the same server, so the
    distributed name is an alias of the local table — NOT an empty
    clone).  Returns the bare local table name, or None when the
    statement's engine isn't Distributed."""
    dm = re.search(r"(?is)\bENGINE\s*=?\s*Distributed\s*\("
                   r"([^()]*(?:\([^()]*\)[^()]*)*)\)", text)
    if dm is None:
        return None
    eargs = _split_top_commas(dm.group(1))
    if len(eargs) < 3:
        return None
    # an empty database name means the CURRENT database (reference
    # StorageDistributed — golden 01763 accepts Distributed(c, '', t))
    return eargs[2].strip().strip("'\"").split(".")[-1].strip("`'\"")


def _register_distributed_alias(spark, name: str, local: str,
                                tables) -> bool:
    """Register ``name`` as a live alias view over ``local`` (lazy SQL
    temp view — Spark stores the unresolved plan, so re-registrations
    of the local view after later INSERTs are picked up).  Returns
    False when the local table doesn't resolve (creation stays lazy,
    like the reference — but the alias INTENT is recorded so a cycle
    of Distributed tables is caught)."""
    amap = (tables.setdefault("__alias__", {})
            if tables is not None else {})
    cur, hops = local, 0
    while cur is not None and hops < 16:
        if cur == name:
            # tt6 -> tt7 -> tt6 (reference StorageDistributed
            # INFINITE_LOOP; golden 01763_max_distributed_depth)
            raise ValueError(
                "Distributed: infinite loop of distributed tables "
                "(reference INFINITE_LOOP)")
        cur = amap.get(cur)
        hops += 1
    amap[name] = local
    # the proxy exposes the local table's declared ALIAS columns too
    # (reference StorageDistributed reads the remote table's ALIAS
    # defaults; golden 03035_alias_column_bug_distributed)
    if tables is not None:
        acols = tables.get("__aliascols__", {}).get(local)
        if acols:
            tables.setdefault("__aliascols__", {}) \
                .setdefault(name, acols)
    src = _resolve_view_safe(spark, local, (tables or {}).get(local))
    if src is None:
        return False
    spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW `{name}` "
              f"AS SELECT * FROM `{local}`")
    return True


def _default_table_dir() -> str:
    import os as _os
    return _os.path.join(_os.getcwd(), "spark-warehouse", "ch_tables")


def _unused_table_dir(path: str, name: str, tables) -> str:
    """``path``, or ``path_<n>`` when a table in ``tables`` other than
    ``name`` still uses ``path``: RENAME keeps a table's storage, so a
    new table under the old name must not clear it."""
    used = {getattr(v, "path", None) for k, v in (tables or {}).items()
            if k != name}
    out, n = path, 0
    while out in used:
        n += 1
        out = f"{path}_{n}"
    return out


class SqlDictionary:
    """Session dictionary from CREATE DICTIONARY DDL (reference
    src/Parsers/ParserCreateQuery.h dictionary form,
    src/Storages/StorageDictionary.h): attribute defaults + key
    columns + an optional source TABLE.  dictGet resolves to a scalar
    subquery against the source view — Catalyst plans it as a
    broadcast semi/left join, the same shape as the reference's
    FlatDictionary lookup."""

    def __init__(self, name, key_cols, columns, defaults,
                 source_table=None):
        self.name = name
        self.key_cols = list(key_cols)
        self.columns = dict(columns)          # col -> CH type string
        self.defaults = dict(defaults)        # col -> SQL default
        self.source_table = source_table

    def attr_default(self, col: str) -> str:
        if col in self.defaults:
            return self.defaults[col]
        cht = self.columns.get(col, "")
        if re.match(r"(?i)^Nullable\b", cht):
            return "NULL"
        if re.match(r"(?i)^(U?Int|Float|Decimal|Bool)", cht):
            return "0"
        if re.match(r"(?i)^Date", cht):
            return "DATE '1970-01-01'"
        return "''"


_DICT_DDL_RE = re.compile(
    r"(?is)^CREATE\s+(?:OR\s+REPLACE\s+)?DICTIONARY\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*\((.*?)\)\s*"
    r"(PRIMARY\s+KEY\b.*)$")


def _create_dictionary_statement(spark, text: str, tables):
    m = _DICT_DDL_RE.match(text)
    if m is None:
        raise ValueError("unsupported CREATE DICTIONARY form")
    name = m.group(1).split(".")[-1]
    cols_src, tail = m.group(2), m.group(3)
    columns, defaults, parts = {}, {}, []
    for coldef in _split_top_commas(cols_src):
        toks = coldef.strip().split(None, 1)
        if len(toks) < 2:
            continue
        cname = toks[0].strip("`")
        columns[cname] = _decl_type(toks[1])
        dm = re.search(r"(?i)\bDEFAULT\s+(.+?)\s*$", toks[1])
        if dm:
            defaults[cname] = _translate_expr(dm.group(1).strip())
        parts.append(f"`{cname}` "
                     f"{_ch_decl_type_to_spark(_decl_type(toks[1]))}")
    pk = re.match(r"(?is)PRIMARY\s+KEY\s+([\w,`\s]+?)(?:\s+SOURCE|"
                  r"\s+LAYOUT|\s+LIFETIME|\s+RANGE|$)", tail)
    keys = [k.strip().strip("`")
            for k in (pk.group(1).split(",") if pk else [])
            if k.strip()]
    src = None
    sm = re.search(r"(?i)TABLE\s+'(\w+)'", tail)
    if sm:
        src = sm.group(1)
    d = SqlDictionary(name, keys, columns, defaults, source_table=src)
    if tables is not None:
        tables[name] = d
    view = None
    if src is not None:
        view = _resolve_view_safe(spark, src, (tables or {}).get(src))
    if view is not None:
        view.createOrReplaceTempView(name)
    else:
        spark.createDataFrame([], ", ".join(parts)) \
            .createOrReplaceTempView(name)
    return None


_DICTGET_RE = re.compile(
    r"(?i)\bdict(Get|GetOrNull|GetOrDefault|Has)"
    r"(Int8|Int16|Int32|Int64|UInt8|UInt16|UInt32|UInt64|Float32|"
    r"Float64|Date|DateTime|String|UUID|IPv4|IPv6)?"
    r"(OrDefault)?\s*\(")


_JSON_SEG_RE = re.compile(
    r"\.(?:(:)\s*(`[^`]+`|\w+(?:\([^()]*\))?)"   # .:Type hint
    r"|(`[^`]+`|\^?[A-Za-z_]\w*)(\[\])?)")       # .name / .name[]


def _json_jsonpath(parts) -> str:
    jp = "$" + "".join(
        f".{p}" if re.fullmatch(r"\w+", p) else f"['{p}']"
        for p in parts)
    return jp.replace("'", "''")


def _json_hint_cast(v: str, cht: str) -> str:
    """``.:Type`` typed subcolumn read (reference
    src/DataTypes/DataTypeObject.h typed-path subcolumns): the value
    when the dynamic type matches, NULL otherwise.  Approximated over
    the string carrier with shape sniff + try_cast — documented in
    LIMITS (JSON numbers and numeric strings are conflated by
    get_json_object)."""
    t = cht.strip().strip("`").lower()
    if re.match(r"^u?int\d*$", t):
        return f"TRY_CAST({v} AS BIGINT)"
    if re.match(r"^(float\d*|double|decimal)", t):
        return f"TRY_CAST({v} AS DOUBLE)"
    if t == "bool":
        return (f"CASE WHEN {v} IN ('true','false') "
                f"THEN ({v} = 'true') END")
    if t == "date":
        return f"TRY_CAST({v} AS DATE)"
    if t.startswith(("datetime", "timestamp")):
        return f"TRY_CAST({v} AS TIMESTAMP)"
    if t == "uuid":
        return (f"CASE WHEN {v} RLIKE '^[0-9a-fA-F-]+$' "
                f"AND length({v}) = 36 THEN {v} END")
    if t == "string":
        # NULL unless the dynamic value IS a string (numbers, bools,
        # objects and arrays are other dynamic types)
        return (f"CASE WHEN {v} RLIKE "
                f"'^(-?[0-9.eE+]+|true|false)$' OR {v} RLIKE '^[\\\\[{{]'"
                f" THEN NULL ELSE {v} END")
    am = re.match(r"^array\s*\((.*)\)$", t)
    if am:
        inner = am.group(1).strip()
        inner = re.sub(r"(?i)^nullable\s*\((.*)\)$", r"\1", inner)
        if re.match(r"(?i)^u?int\d*$", inner):
            return f"from_json({v}, 'array<bigint>')"
        if re.match(r"(?i)^(float|double)", inner):
            return f"from_json({v}, 'array<double>')"
        return f"from_json({v}, 'array<string>')"
    return v


def _json_subcol_expr(col: str, toks, depth: int = 0) -> str:
    """Build the Spark expression for one dotted JSON subcolumn read.
    ``toks`` is a list of ('name', text, has_array_suffix) /
    ('hint', type, None) tuples; array segments (``k1[]`` or an
    ``Array(JSON)`` hint) switch to element-wise transform() over
    from_json(..., 'array<string>')."""
    pending: list = []
    i = 0
    while i < len(toks):
        kind, val, arr = toks[i]
        if kind == "hint":
            t = val.strip().strip("`")
            is_arr_json = re.match(r"(?i)^array\s*\(\s*json", t)
            base = (f"get_json_object({col}, "
                    f"'{_json_jsonpath(pending)}')"
                    if pending else col)
            if is_arr_json and i + 1 < len(toks):
                # mid-path Array(JSON) hint: elements are JSON —
                # continue the path per element
                var = f"__jx{depth}"
                inner = _json_subcol_expr(var, toks[i + 1:], depth + 1)
                return (f"transform(from_json({base}, "
                        f"'array<string>'), {var} -> {inner})")
            return _json_hint_cast(base, val)
        pending.append(val.strip("`").lstrip("^"))
        if arr:
            base = (f"from_json(get_json_object({col}, "
                    f"'{_json_jsonpath(pending)}'), 'array<string>')")
            if i + 1 < len(toks):
                var = f"__jx{depth}"
                inner = _json_subcol_expr(var, toks[i + 1:], depth + 1)
                return f"transform({base}, {var} -> {inner})"
            return base
        i += 1
    return f"get_json_object({col}, '{_json_jsonpath(pending)}')"


def _rewrite_json_subcolumns(text: str, jcols) -> str:
    """``json_col.a.b`` / ``json_col.`a/b``` over a declared JSON /
    Object('json') column (carried as a JSON STRING here) ->
    get_json_object(col, '$.a.b') — the reference's dynamic subcolumn
    read (src/DataTypes/Serializations/SerializationObject).  Array
    subcolumns (``json.k1[]`` → array of JSON elements, later
    segments map element-wise), typed hints (``.:Int64`` /
    ``.:`Array(Nullable(Int64))``` — try_cast carriers), and prefix
    reads (``json.^a`` — the subobject text) are modeled; see LIMITS
    for the dynamic-type conflations of the string carrier."""
    pat = re.compile(
        r"\b(" + "|".join(re.escape(c) for c in sorted(jcols)) + r")"
        r"((?:\.(?::\s*(?:`[^`]+`|\w+(?:\([^()]*\))?)"
        r"|(?:`[^`]+`|\^?[A-Za-z_]\w*)(?:\[\])?))+)(?!\s*\()")

    def sub(m):
        col, path = m.group(1), m.group(2)
        toks = [("hint", h, None) if c else ("name", nm, bool(a))
                for c, h, nm, a in _JSON_SEG_RE.findall(path)]
        return _json_subcol_expr(col, toks)
    return pat.sub(sub, text)


def _rewrite_dictget(text: str, tables) -> str:
    """dictGet family over session dictionaries (reference
    src/Functions/FunctionsExternalDictionaries.h): scalar subquery
    against the source view with the attribute's declared DEFAULT on
    a miss (dictGetOrNull → NULL, dictGetOrDefault → given value)."""
    from ..operators.dictionary import DICT_GET_TYPES
    out = []
    i = 0
    while True:
        m = _DICTGET_RE.search(text, i)
        if m is None:
            out.append(text[i:])
            return "".join(out)
        args, after = _parse_args(text, text.index("(", m.start()))
        dname = args[0].strip().strip("'\"`").split(".")[-1]
        d = (tables or {}).get(dname)
        if not isinstance(d, SqlDictionary):
            out.append(text[i:after])
            i = after
            continue
        kind = m.group(1).lower()
        typed = m.group(2)
        or_default = bool(m.group(3)) or kind == "getordefault"
        out.append(text[i:m.start()])
        if kind == "has":
            hk = args[1:]
            if len(hk) == 1 and len(d.key_cols) > 1:
                km0 = hk[0].strip()
                if km0.startswith("(") and km0.endswith(")"):
                    hk = _split_top_commas(km0[1:-1])
            cond = " AND ".join(
                f"`{k}` = ({v})" for k, v in
                zip(d.key_cols, hk))
            out.append(f"(CASE WHEN (SELECT count(*) FROM `{dname}` "
                       f"WHERE {cond}) > 0 THEN 1 ELSE 0 END)")
            i = after
            continue
        nkeys = len(d.key_cols)
        keyargs = args[2:2 + nkeys]
        if len(keyargs) == 1 and nkeys > 1:
            km2 = keyargs[0].strip()
            if km2.startswith("(") and km2.endswith(")"):
                # complex keys spell as ONE tuple argument
                keyargs = _split_top_commas(km2[1:-1])
        cond = " AND ".join(
            f"`{k}` = ({v})" for k, v in zip(d.key_cols, keyargs))
        # a TUPLE of attribute names returns a tuple of lookups
        # (reference FunctionsExternalDictionaries tuple attributes)
        tm2 = re.fullmatch(r"\(\s*('[^']*'(?:\s*,\s*'[^']*')*)\s*\)",
                           args[1].strip())
        attrs = ([x.strip().strip("'\"") for x in
                  _split_top_commas(tm2.group(1))] if tm2
                 else [args[1].strip().strip("'\"")])

        def _one_attr(attr):
            subq = (f"(SELECT any(`{attr}`) FROM `{dname}` "
                    f"WHERE {cond})")
            if kind == "getornull":
                return subq
            if or_default:
                dflt = args[2 + nkeys] if len(args) > 2 + nkeys \
                    else d.attr_default(attr)
                return f"coalesce({subq}, {dflt})"
            return f"coalesce({subq}, {d.attr_default(attr)})"
        if len(attrs) == 1:
            expr = _one_attr(attrs[0])
        else:
            expr = "named_struct(" + ", ".join(
                f"'col{i2 + 1}', {_one_attr(a2)}"
                for i2, a2 in enumerate(attrs)) + ")"
        if typed:
            carrier = DICT_GET_TYPES.get(typed)
            if carrier:
                expr = f"CAST({expr} AS {carrier})"
        out.append(f"({expr})")
        i = after


def _extract_alias_columns(text: str, tables) -> str:
    """Column ``ALIAS expr`` declarations (reference ColumnDefault
    kind ALIAS, src/Parsers/ParserCreateQuery.h): never stored,
    computed at read, hidden from ``SELECT *``.  Strip them from the
    CREATE text and record name → raw CH expression for read-time
    injection (see the FROM-wrap in _ch_sql_impl)."""
    nm = re.match(r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                  r"`?(\w+)`?\s*\(", text)
    if nm is None:
        return text
    open_i = text.index("(", nm.end() - 1)
    close_i = _matching_paren(text, open_i)
    if close_i < 0:
        return text
    items = _split_top_commas(text[open_i + 1:close_i])
    kept, aliases = [], {}
    for it in items:
        # the declared type is OPTIONAL for ALIAS columns (the
        # reference infers it from the expression; golden 00712
        # `c alias a + b`)
        am = re.match(r"(?is)^\s*`?([\w.]+)`?\s+(?:[\w()., ]+?\s+)?"
                      r"ALIAS\s+(.+?)\s*$", it)
        if am is not None and not re.search(
                r"(?i)\b(DEFAULT|MATERIALIZED)\b", it):
            aliases[am.group(1)] = am.group(2).strip()
        else:
            kept.append(it.strip())
    if not aliases:
        return text
    if tables is not None:
        tables.setdefault("__aliascols__", {})[nm.group(1)] = aliases
    return (text[:open_i + 1] + ", ".join(kept)
            + text[close_i:])


def _inject_alias_columns(text: str, tables) -> str:
    """Wrap ``FROM t`` / ``JOIN t`` in a computed subquery exposing
    t's declared ALIAS columns — only when the statement references
    one of them by name (SELECT * stays alias-free, the reference's
    asterisk rule)."""
    amap = (tables or {}).get("__aliascols__") or {}
    for tname, aliases in amap.items():
        if not re.search(rf"(?<![\w.`]){tname}\b", text):
            continue
        used = [c for c in aliases
                if re.search(rf"(?<![\w`]){re.escape(c)}\b", text)]
        if not used:
            continue
        # chained aliases (c ALIAS b + 1 where b is itself an alias)
        # expand against the same table's map
        def expand(e: str, depth: int = 0) -> str:
            if depth > 4:
                return e
            out = e
            for c2, e2 in aliases.items():
                out = re.sub(rf"(?<![\w.`]){re.escape(c2)}\b",
                             f"({e2})", out)
            return expand(out, depth + 1) if out != e else out
        # every alias column is exposed (an expression may use one
        # that the query text doesn't)
        cols = ", ".join(f"{expand(e)} AS `{c}`"
                         for c, e in aliases.items())
        text = re.sub(
            rf"(?i)\b(FROM|JOIN)\s+`?{tname}`?(?![\w.(])",
            lambda m2: (f"{m2.group(1)} (SELECT *, {cols} "
                        f"FROM {tname}) AS {tname}"),
            text)
    return text


def _create_table_statement(spark, text: str, tables, sample_by=None):
    """CREATE TABLE ... ENGINE=... [(cols)] [AS SELECT] inside ch_sql
    (reference src/Interpreters/InterpreterCreateQuery.h): MergeTree
    family becomes a managed MergeTreeTable under
    spark-warehouse/ch_tables (registered in ``tables`` when given and
    as a temp view once it has data); a column list on any other engine
    makes a MemoryTable (a JoinTable for ENGINE = Join) held the same
    way; column-less CTAS and clones register a plain temp view.

    ``IF NOT EXISTS`` on a table that already exists is a NO-OP that
    preserves its data (reference InterpreterCreateQuery — it never
    truncates); only a genuinely new CREATE clears the directory."""
    from ..sources.engines import JoinTable, MemoryTable
    from ..sources.mergetree import MergeTreeTable

    if re.search(r"(?i)\sALIAS\s", text):
        text = _extract_alias_columns(text, tables)
    ine = re.match(r"(?i)^CREATE\s+TABLE\s+IF\s+NOT\s+EXISTS\s+"
                   r"`?(\w+)`?", text)
    if ine:
        nm = ine.group(1)
        exists = tables is not None and nm in tables
        if not exists:
            try:
                exists = spark.catalog.tableExists(nm)
            except Exception:
                exists = False
        if exists:
            return None
    # column-list CTAS: CREATE TABLE t (cols) ENGINE = X ... AS SELECT
    # — the SELECT's output aligns POSITIONALLY to the declared
    # columns (reference InterpreterCreateQuery AS-select form)
    cm0 = re.match(r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                   r"`?(\w+)`?\s*\(", text)
    if cm0:
        close0 = _matching_paren(text, cm0.end() - 1)
        am0 = re.match(r"(?is)^\s*(ENGINE\s*=?.*?)\s+AS\s+"
                       r"((?:SELECT|WITH)\b.*)$",
                       text[close0 + 1:]) if close0 > 0 else None
        if am0:
            nm0 = cm0.group(1)
            df0 = ch_sql(spark, am0.group(2), sample_by=sample_by,
                         tables=tables)
            em0 = re.match(r"(?is)ENGINE\s*=?\s*(\w+)", am0.group(1))
            if em0 and em0.group(1).lower() in _ENGINE_NAMES:
                t0 = create_table_sql(
                    spark, text[:close0 + 1] + " " + am0.group(1),
                    _default_table_dir(), tables)
            else:
                t0 = MemoryTable(spark, _parse_column_decls(
                    text[cm0.end():close0]))
            if tables is not None:
                tables[nm0] = t0
            decl0 = t0.decls.columns
            if len(decl0) == len(df0.columns):
                df0 = df0.toDF(*decl0)
            return _append_to_table(
                spark, nm0, df0, {nm0: t0} if tables is None else tables)
    m = _CTAS_RE.match(text)
    if m:
        name, engine_raw, engine_args, _mid, select = m.groups()
        df = ch_sql(spark, select, sample_by=sample_by, tables=tables)
        if engine_raw.lower() in _ENGINE_NAMES:
            create = re.sub(r"\s+AS\s+SELECT\b.*$", "", text,
                            flags=re.IGNORECASE | re.DOTALL)
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in df.schema.fields)
            create = re.sub(
                r"(`?\w+`?\s+)(ENGINE\s*=?\s*\w)", r"\1(%s) \2" % cols,
                create, count=1, flags=re.IGNORECASE)
            t = create_table_sql(spark, create, _default_table_dir(),
                                 tables)
            t.insert(df)
            if tables is not None:
                tables[name] = t
            _register_table_views(spark, name, t, tables)
        else:
            df.createOrReplaceTempView(name)
        return None

    # ENGINE-less CTAS (CREATE [TEMPORARY] TABLE t AS SELECT …): a
    # session-scoped Memory table — a temp view, never a Spark managed
    # table (whose warehouse location would collide across sessions)
    m2 = re.match(r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                  r"`?(\w+)`?\s+AS\s+((?:SELECT|WITH)\b.*)$", text)
    if m2:
        df = ch_sql(spark, m2.group(2), sample_by=sample_by,
                    tables=tables)
        df.localCheckpoint(eager=True) \
            .createOrReplaceTempView(m2.group(1))
        return None

    name_m = re.match(r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                      r"`?(\w+)`?", text, re.IGNORECASE)
    name = name_m.group(1)
    cm = _CREATE_RE.match(text)
    if cm and cm.group(3).lower() in _ENGINE_NAMES:
        # Replicated* second replica of the SAME zookeeper path: one
        # storage, two names (reference ReplicatedMergeTree — replicas
        # share the log; golden 00446 clear_column1/clear_column2).
        # The new name becomes a lazy alias view over the first
        # replica, so ALTERs/INSERTs through either name are visible
        # through both.
        if cm.group(3).lower().startswith("replicated") \
                and cm.group(4) and tables is not None:
            eargs = _split_top_commas(cm.group(4))
            zk = eargs[0].strip().strip("'") if eargs else None
            if zk:
                zmap = tables.setdefault("__zk__", {})
                peer = zmap.get(zk)
                if peer is not None and peer in tables \
                        and peer != name:
                    tables[name] = tables[peer]
                    _register_distributed_alias(spark, name, peer,
                                                tables)
                    return None
                zmap[zk] = name
        t = create_table_sql(spark, text, _default_table_dir(),
                             tables)
        if tables is not None:
            tables[name] = t
        if t.decls.schema_ddl:
            empty = spark.createDataFrame([], t.decls.schema_ddl)
            empty.createOrReplaceTempView(name)
            # Validate the engine's FINAL rewrite NOW: an invalid
            # sort-key expression must fail the CREATE (the reference
            # resolves key expressions at CREATE, MergeTreeData.h:151),
            # not surface as TABLE_OR_VIEW_NOT_FOUND at the first
            # `SELECT ... FINAL`.  Also gives part-less tables a
            # working `<name>__final` view.
            t._apply_engine(empty) \
                .createOrReplaceTempView(f"{name}__final")
        return None
    # CREATE TABLE a AS b [ENGINE = X]: clone b's structure, empty
    # (reference InterpreterCreateQuery::setProperties from-table form)
    cl = re.match(r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                  r"`?(\w+)`?\s+AS\s+`?(\w+)`?\s*"
                  r"(?:ENGINE\s*=?\s*\w+.*)?$",
                  text, re.IGNORECASE | re.DOTALL)
    if cl is None:
        # engine-BEFORE-AS clone: CREATE TABLE d ENGINE=Distributed(..)
        # AS src (registerStorageDistributed — the structure comes
        # from the source table)
        cl = re.match(r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                      r"`?(\w+)`?\s+ENGINE\s*=?\s*\w+\s*"
                      r"(?:\((?:[^()]|\([^()]*\))*\))?"
                      r"\s*AS\s+`?(\w+)`?\s*$",
                      text, re.IGNORECASE | re.DOTALL)
    if cl and not re.match(r"(?is)^SELECT\b", cl.group(2)):
        local = _distributed_local_table(text)
        if local is not None and _register_distributed_alias(
                spark, cl.group(1), local, tables):
            return None
        srct = (tables or {}).get(cl.group(2))
        if isinstance(srct, MergeTreeTable) and srct.decls.decl_texts:
            # managed source: clone as a managed table from the
            # DECLARED columns so type metadata (Object columns,
            # defaults, codecs) carries over (golden
            # 01825_type_json_insert_select)
            synth = (f"CREATE TABLE {cl.group(1)} "
                     f"({', '.join(srct.decls.decl_texts)}) "
                     f"ENGINE = MergeTree ORDER BY tuple()")
            t0 = create_table_sql(spark, synth, _default_table_dir(),
                                  tables)
            if tables is not None:
                tables[cl.group(1)] = t0
            spark.createDataFrame([], t0.decls.schema_ddl) \
                .createOrReplaceTempView(cl.group(1))
            return None
        src = _resolve_view_safe(spark, cl.group(2), srct)
        if src is not None:
            spark.createDataFrame([], src.schema) \
                .createOrReplaceTempView(cl.group(1))
            return None

    # non-MergeTree engine with explicit columns: a MemoryTable
    if cm:
        if cm.group(3).lower() == "distributed":
            if re.search(r"(?im)^\s*INDEX\s+\w+", cm.group(2)) or \
                    any(re.match(r"(?is)\s*INDEX\s+\w+", c) for c in
                        _split_top_commas(cm.group(2))):
                # skip indices live on the LOCAL MergeTree tables,
                # never on the Distributed proxy (reference
                # StorageDistributed: no data to index)
                raise ValueError(
                    "Distributed tables cannot have skip indices "
                    "(reference BAD_ARGUMENTS)")
            local = _distributed_local_table(text)
            if local is not None and _register_distributed_alias(
                    spark, name, local, tables):
                return None
        if cm.group(3).lower() == "embeddedrocksdb":
            # StorageEmbeddedRocksDB requires PRIMARY KEY with exactly
            # one column, and it must be a declared column
            # (reference src/Storages/RocksDB/StorageEmbeddedRocksDB.cpp)
            declared = set(_parse_column_decls(cm.group(2)).columns)
            pk = re.search(r"(?is)\bPRIMARY\s+KEY\s*\(?\s*"
                           r"([^)(;]+?)\s*\)?\s*$",
                           cm.group(5) or "")
            if pk is None:
                raise ValueError(
                    "EmbeddedRocksDB: PRIMARY KEY is required "
                    "(must consist of exactly one column)")
            pk_cols = [c.strip().strip("`")
                       for c in pk.group(1).split(",") if c.strip()]
            if len(pk_cols) != 1:
                raise ValueError(
                    "EmbeddedRocksDB: primary key must consist of "
                    "exactly one column")
            if pk_cols[0] not in declared:
                raise ValueError(
                    f"EmbeddedRocksDB: primary key column "
                    f"{pk_cols[0]!r} is not in the column list")
            # key-value semantics: inserts UPSERT on the primary key
            # and reads always see the latest value — model as a
            # replacing table whose every read is FINAL
            new_text = re.sub(
                r"(?is)ENGINE\s*=?\s*EmbeddedRocksDB\b.*$",
                f"ENGINE = ReplacingMergeTree ORDER BY "
                f"`{pk_cols[0]}`", text)
            t = create_table_sql(spark, new_text, _default_table_dir(),
                                 tables)
            t.always_final = True
            if tables is not None:
                tables[name] = t
            if t.decls.schema_ddl:
                spark.createDataFrame([], t.decls.schema_ddl) \
                    .createOrReplaceTempView(name)
            return None
        # ENGINE = Join(strictness, kind, keys...) gets a managed
        # JoinTable so joinGet()/session joins replay the stored side
        # (reference src/Storages/StorageJoin.cpp); every other engine
        # keeps its rows in a MemoryTable (StorageMemory)
        t = MemoryTable(spark)
        if cm.group(3).lower() == "join" and cm.group(4):
            eargs = [x.strip().strip("'\"`")
                     for x in cm.group(4).split(",")]
            if len(eargs) >= 3:
                import os as _os
                import shutil as _shutil
                t = JoinTable(spark,
                              _unused_table_dir(_os.path.join(
                                  _default_table_dir(), name), name, tables),
                              key_cols=eargs[2:],
                              strictness=eargs[0].lower(),
                              kind=eargs[1].lower())
                _shutil.rmtree(t.path, ignore_errors=True)
        t.decls = _parse_column_decls(cm.group(2))
        if tables is not None:
            tables[name] = t
        spark.createDataFrame([], t.decls.schema_ddl) \
            .createOrReplaceTempView(name)
        return None
    # column-less Merge engine: CREATE TABLE m ENGINE = Merge(db,
    # 'regex') — a union view over the matching session tables
    # (reference StorageMerge; the structure comes from the union)
    mm2 = re.match(r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                   r"`?(\w+)`?\s+ENGINE\s*=?\s*Merge\s*\((.*)\)\s*$",
                   text)
    if mm2:
        args2 = _split_top_commas(mm2.group(2))
        pat2 = args2[-1].strip().strip("'") if args2 else ""
        df2 = _merge_union_df(spark, pat2, tables)
        if df2 is None:
            raise ValueError(
                f"Merge({pat2!r}): no tables match "
                f"(reference UNKNOWN_TABLE)")
        df2.createOrReplaceTempView(mm2.group(1))
        return None
    raise ValueError("unsupported CREATE TABLE form")


def _split_value_tuples(body: str) -> list[str]:
    """Split ``(a, b), (c, d), ...`` into the tuple bodies
    (string-aware, nested-paren-aware)."""
    tuples = []
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c in " \t\r\n,;":
            i += 1
            continue
        if c != "(":
            raise ValueError(
                f"VALUES: expected '(' at {body[i:i + 24]!r}")
        depth = 0
        j = i
        while j < n:
            ch = body[j]
            if ch in "'\"`":
                j = _skip_string(body, j)
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        tuples.append(body[i + 1:j])
        i = j + 1
    return tuples


def _ch_type_default_sql(dt) -> str:
    """The reference's type default for a column omitted from INSERT
    (src/Interpreters/addMissingDefaults.cpp): 0 for numbers, '' for
    strings, empty collections, the epoch for date/time.  Spark schemas
    don't carry CH Nullable-ness, so plain types get the CH default."""
    from pyspark.sql import types as T
    s = dt.simpleString()
    if isinstance(dt, T.ArrayType):
        return f"CAST(array() AS {s})"
    if isinstance(dt, T.MapType):
        return f"CAST(map() AS {s})"
    if isinstance(dt, T.StringType):
        return "''"
    if isinstance(dt, T.DateType):
        return "DATE'1970-01-01'"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"CAST('1970-01-01 00:00:00' AS {s})"
    if isinstance(dt, T.BooleanType):
        return "false"
    if isinstance(dt, T.NumericType):
        return f"CAST(0 AS {s})"
    return f"CAST(NULL AS {s})"


def _spark_type_of_ddl(spark, ddl_type: str):
    return spark.createDataFrame([], f"`__x` {ddl_type}") \
        .schema.fields[0].dataType


def _alter_table_statement(spark, name: str, body: str, tables):
    """ALTER TABLE column operations (reference
    src/Parsers/ParserAlterQuery.cpp / InterpreterAlterQuery): ADD /
    DROP / RENAME / MODIFY / MATERIALIZE / CLEAR COLUMN, COMMENT,
    MODIFY TTL/SETTING.  Every table's declared columns (``decls``)
    evolve with it.  Managed MergeTree tables keep their parts (old
    parts are aligned at read time — missing columns fill with the
    DEFAULT, the reference's non-mutating ADD semantics); a
    MemoryTable stores the transformed rows; an undeclared view is
    replaced by the transformed frame.  Partition, part and
    materializing ops need a MergeTree table."""
    from ..sources.engines import MemoryTable
    from ..sources.mergetree import MergeTreeTable

    t = (tables or {}).get(name)
    mt = isinstance(t, MergeTreeTable)
    decls = _decls(t)
    df = (t.read_raw() if isinstance(t, MemoryTable)
          else _resolve_view_safe(spark, name, t))
    if df is None:
        raise ValueError(f"ALTER: unknown table {name!r}")
    # list-valued ops (`DROP STATISTICS a, b` / `ADD STATISTICS b
    # TYPE countmin, uniq`) split at the comma — merge bare
    # continuations back into the preceding statistics op
    raw_ops = _split_top_commas(body)
    ops: list[str] = []
    for op in raw_ops:
        o = op.strip()
        if ops and re.fullmatch(r"`?\w+`?(\s+TYPE\s+.+)?", o,
                                re.IGNORECASE | re.DOTALL) \
                and re.match(
                r"(?is)^(?:ADD|DROP|MODIFY|CLEAR|MATERIALIZE)\s+"
                r"STATISTICS?\b", ops[-1]):
            ops[-1] += ", " + o
            continue
        ops.append(o)
    for op in ops:
        if df is None:                # an earlier op rewrote the rows
            df = t.read_raw() if isinstance(t, MemoryTable) else t.read()
        o = op.strip()
        m = re.match(r"(?is)^(ADD|DROP|MODIFY|CLEAR|MATERIALIZE)\s+"
                     r"STATISTICS?\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?"
                     r"(.+?)(?:\s+TYPE\s+(.+))?$", o)
        if m:
            verb = m.group(1).upper()
            cnames = [c.strip(" `")
                      for c in m.group(2).split(",") if c.strip()]
            kinds = [k.strip() for k in (m.group(3) or "").split(",")
                     if k.strip()]
            stats = decls.stats
            decl_by_name = {}
            for dtext in decls.decl_texts:
                dm9 = re.match(r"`?(\w+)`?\s+(.*)$", dtext.strip())
                if dm9:
                    decl_by_name[dm9.group(1)] = dm9.group(2)
            if verb in ("ADD", "MODIFY"):
                for cn in cnames:
                    _validate_stat_types(
                        kinds, decl_by_name.get(cn, "Int64"))
                    cur2 = set() if verb == "MODIFY" \
                        else set(stats.get(cn, ()))
                    cur2 |= {k.lower() for k in kinds}
                    stats[cn] = sorted(cur2, key=_STAT_TYPES.index)
            elif verb == "DROP":
                for cn in cnames:
                    stats.pop(cn, None)
            # CLEAR / MATERIALIZE: data-side no-ops here
            continue
        m = re.match(r"(?is)^ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                     r"`?(\w+)`?\s+(.+?)(?:\s+AFTER\s+`?\w+`?|\s+FIRST)?$",
                     o)
        if m:
            cname, rest = m.group(1), m.group(2)
            stype = _ch_decl_type_to_spark(_decl_type(rest))
            dm = re.search(r"(?i)\b(?:DEFAULT|MATERIALIZED)\s+(.+)$",
                           rest)
            dt = _spark_type_of_ddl(spark, stype)
            dexpr = (_translate_expr(dm.group(1).strip()) if dm
                     else _ch_type_default_sql(dt))
            if cname not in df.columns:
                df = df.withColumn(cname, F.expr(dexpr).cast(dt))
            if decls.schema_ddl:
                decls.schema_ddl += f", `{cname}` {stype}"
            if dm:
                decls.defaults[cname] = dexpr
            continue
        m = re.match(r"(?is)^DROP\s+COLUMN\s+(IF\s+EXISTS\s+)?"
                     r"`?([\w.]+)`?$", o)
        if m:
            cname = m.group(2)
            # a column read by a materialized view cannot be dropped
            # (reference ALTER_OF_COLUMN_IS_FORBIDDEN; golden 01851)
            for _mvn, (src0, sel0) in ((tables or {}).get(
                    "__mv_selects__") or {}).items():
                if src0 == name and re.search(
                        rf"(?<![\w.`]){re.escape(cname)}(?![\w`])",
                        sel0):
                    raise ValueError(
                        f"ALTER DROP COLUMN: column {cname!r} is "
                        f"referenced by materialized view {_mvn!r} "
                        f"(reference ALTER_OF_COLUMN_IS_FORBIDDEN)")
            for trig in (tables or {}).get("__mv_to__") or []:
                if trig.get("src") == name and re.search(
                        rf"(?<![\w.`]){re.escape(cname)}(?![\w`])",
                        trig.get("select") or ""):
                    raise ValueError(
                        f"ALTER DROP COLUMN: column {cname!r} is "
                        f"referenced by materialized view "
                        f"{trig.get('name')!r} (reference "
                        f"ALTER_OF_COLUMN_IS_FORBIDDEN)")
            members = [c for c in df.columns
                       if c.startswith(f"{cname}.")]
            if cname not in df.columns and members:
                # a Nested GROUP name drops all its expanded
                # `base.sub` member columns (NestedUtils; 02500)
                for mc in members:
                    df = df.drop(mc)
                    decls.defaults.pop(mc, None)
                decls.schema_ddl = ", ".join(
                    c for c in _split_top_commas(decls.schema_ddl)
                    if not c.strip().split()[0].strip("`")
                    .startswith(f"{cname}."))
                continue
            if cname not in df.columns and not m.group(1):
                # the reference rejects dropping an unknown column
                # without IF EXISTS
                raise ValueError(
                    f"ALTER DROP COLUMN: no column {cname!r} in "
                    f"{name!r} (reference NOT_FOUND_COLUMN)")
            df = df.drop(cname)
            decls.schema_ddl = ", ".join(
                c for c in _split_top_commas(decls.schema_ddl)
                if c.strip().split()[0].strip("`") != cname)
            decls.defaults.pop(cname, None)
            continue
        m = re.match(r"(?is)^RENAME\s+COLUMN\s+(?:IF\s+EXISTS\s+)?"
                     r"`?([\w.]+)`?\s+TO\s+`?([\w.]+)`?$", o)
        if m:
            df = df.withColumnRenamed(m.group(1), m.group(2))
            decls.schema_ddl = re.sub(
                rf"`?{re.escape(m.group(1))}`?(\s)",
                rf"`{m.group(2)}`\1", decls.schema_ddl, count=1)
            continue
        m = re.match(r"(?is)^MODIFY\s+COLUMN\s+(?:IF\s+EXISTS\s+)?"
                     r"`?([\w.]+)`?\s+(.+)$", o)
        if m:
            cname, rest = m.group(1), m.group(2)
            ccm2 = re.search(r"(?i)\bCODEC\s*\(", rest)
            if ccm2:
                copen = rest.index("(", ccm2.start())
                cend2 = _matching_paren(rest, copen)
                if cend2 > 0:
                    ctype2 = rest[:ccm2.start()].strip()
                    if not ctype2:
                        for dtext2 in decls.decl_texts:
                            nm8 = re.match(r"`?(\w+)`?\s+(.*)", dtext2)
                            if nm8 and nm8.group(1) == cname:
                                ctype2 = nm8.group(2)
                                break
                    decls.codecs[cname] = _canon_codec_text(
                        rest[copen + 1:cend2], ctype2)
                    rest = (rest[:ccm2.start()]
                            + rest[cend2 + 1:]).strip()
                    if not rest:
                        continue
            if re.match(r"(?i)^JSON\b", rest) and cname in decls.obj \
                    and isinstance(t, (MergeTreeTable, MemoryTable)):
                # Object('json') -> JSON migration: the finalized
                # tuple MATERIALIZES into the stored strings (path
                # defaults included — golden 03270 keeps the 0 fills)
                # and the column becomes the string-carrier JSON type
                mat = t.read().withColumn(
                    cname, F.to_json(F.col(f"`{cname}`"))) \
                    .localCheckpoint(eager=True)
                t.truncate()
                decls.obj.discard(cname)
                decls.json.add(cname)
                t.insert(mat)
                df = None
                continue
            if re.match(r"(?is)^(DEFAULT|MATERIALIZED)\b", rest):
                decls.defaults[cname] = _translate_expr(
                    re.sub(r"(?is)^(DEFAULT|MATERIALIZED)\s+", "",
                           rest).strip())
                continue
            if re.match(r"(?is)^(REMOVE|COMMENT|TTL|SETTINGS)\b", rest):
                continue
            mm2 = re.search(r"(?i)\b(DEFAULT|MATERIALIZED)\s+(.+?)"
                            r"(?:\s+(?:CODEC|TTL|COMMENT)\b.*)?$",
                            rest)
            if mm2:
                decls.defaults[cname] = _translate_expr(
                    mm2.group(2).strip())
                if mm2.group(1).upper() == "MATERIALIZED":
                    decls.materialized.add(cname)
                rest = rest[:mm2.start()].strip()
            stype = _ch_decl_type_to_spark(_decl_type(rest))
            dt = _spark_type_of_ddl(spark, stype)
            if cname in df.columns:
                from pyspark.sql import types as _T
                cur = df.schema[cname].dataType
                if isinstance(dt, _T.StringType) \
                        and isinstance(cur, _T.ArrayType):
                    # Array -> String converts via the CH literal
                    # rendering (['a','b'] / [1,2]), not Spark's cast
                    inner = F.col(f"`{cname}`")
                    if isinstance(cur.elementType, _T.StringType):
                        body = F.array_join(F.transform(
                            inner, lambda x: F.concat(
                                F.lit("'"), x, F.lit("'"))), ",")
                    else:
                        body = F.array_join(
                            F.transform(inner,
                                        lambda x: x.cast("string")),
                            ",")
                    df = df.withColumn(cname, F.concat(
                        F.lit("["), body, F.lit("]")))
                else:
                    df = df.withColumn(cname,
                                       F.col(f"`{cname}`").cast(dt))
            decls.schema_ddl = ", ".join(
                (f"`{cname}` {stype}"
                 if c.strip().split()[0].strip("`") == cname else c)
                for c in _split_top_commas(decls.schema_ddl))
            continue
        m = re.match(r"(?is)^(REPLACE|ATTACH)\s+PARTITION\s+"
                     r"(?:ID\s+)?('[^']*'|[\w.-]+)\s+FROM\s+"
                     r"`?(\w+)`?$", o)
        if m:
            src = (tables or {}).get(m.group(3))
            if not mt or not isinstance(src, MergeTreeTable):
                raise ValueError(f"ALTER {m.group(1).upper()} "
                                 f"PARTITION needs managed tables")
            val = m.group(2).strip("'")
            if m.group(1).upper() == "REPLACE":
                t.replace_partition(src, val)
            else:
                t.attach_partition_from(src, val)
            df = None
            continue
        m = re.match(r"(?is)^(DETACH|ATTACH)\s+(PART|PARTITION)\s+"
                     r"(?:ID\s+)?('[^']*'|[\w.-]+)$", o)
        if m:
            if not mt:
                raise ValueError(f"ALTER {m.group(1).upper()} "
                                 f"{m.group(2).upper()} needs a "
                                 f"managed table")
            val = m.group(3).strip("'")
            op = (m.group(1) + "_" + m.group(2)).lower()
            getattr(t, op)(val)
            df = None
            continue
        m = re.match(r"(?is)^MOVE\s+PARTITION\s+(?:ID\s+)?"
                     r"('[^']*'|[\w.-]+)\s+TO\s+TABLE\s+`?(\w+)`?$", o)
        if m:
            dst = (tables or {}).get(m.group(2))
            if not mt or not isinstance(dst, MergeTreeTable):
                raise ValueError("ALTER MOVE PARTITION needs managed "
                                 "tables")
            t.move_partition_to(dst, m.group(1).strip("'"))
            _register_table_views(spark, m.group(2), dst, tables)
            df = None
            continue
        m = re.match(r"(?is)^DROP\s+(?:PARTITION|PART)\s+(?:ID\s+)?"
                     r"('[^']*'|[\w.-]+)$", o)
        if m:
            if not mt:
                raise ValueError("ALTER DROP PARTITION needs a "
                                 "managed table")
            t.drop_partition(m.group(1).strip("'"))
            df = None
            continue
        m = re.match(r"(?is)^MATERIALIZE\s+COLUMN\s+`?([\w.]+)`?$",
                     o)
        if m and mt and m.group(1) in decls.materialized \
                and m.group(1) in decls.defaults:
            # MATERIALIZED-expression columns REWRITE existing parts
            # with the current expression (MutationsInterpreter
            # materialize-column; plain DEFAULT columns never
            # override stored values)
            t.update_where(
                F.lit(True),
                {m.group(1): F.expr(decls.defaults[m.group(1)])})
            df = None
            continue
        m = re.match(r"(?is)^ADD\s+PROJECTION\s+(?:IF\s+NOT\s+"
                     r"EXISTS\s+)?`?(\w+)`?", o)
        if m:
            if mt:
                t.sql_projections.add(m.group(1))
            continue
        m = re.match(r"(?is)^DROP\s+PROJECTION\s+(IF\s+EXISTS\s+)?"
                     r"`?(\w+)`?$", o)
        if m:
            known = mt and m.group(2) in t.sql_projections
            if not known and not m.group(1):
                raise ValueError(
                    f"DROP PROJECTION: unknown projection "
                    f"{m.group(2)!r}")
            if known:
                t.sql_projections.discard(m.group(2))
            continue
        m = re.match(r"(?is)^CLEAR\s+COLUMN\s+(?:IF\s+EXISTS\s+)?"
                     r"`?([\w.]+)`?"
                     r"(?:\s+IN\s+PARTITION\s+(?:ID\s+)?"
                     r"('[^']*'|[\w.-]+))?\s*$", o)
        if m and mt:
            # CLEAR COLUMN keeps the column and refills it with the
            # declared/type DEFAULT per partition (reference
            # src/Interpreters/MutationsInterpreter.h:44 — golden
            # 00446/01114 clear_column families); NOT a drop
            cname = m.group(1)
            # the column must exist in the PARTS — a freshly ADDed
            # column lives only in the DDL until the next insert
            # (reads already fill its default; nothing to rewrite)
            try:
                cur = {f.name: f.dataType
                       for f in t.read_raw().schema.fields}
            except ValueError:
                cur = {}
            if cname in cur:
                dflt_sql = decls.defaults.get(cname) \
                    or _ch_type_default_sql(cur[cname])
                expr = F.expr(dflt_sql).cast(cur[cname])
                if m.group(2) is not None:
                    pred = t.partition_predicate(m.group(2).strip("'"))
                else:
                    pred = F.lit(True)
                t.update_where(pred, {cname: expr})
                df = None
            continue
        if re.match(r"(?is)^(MATERIALIZE\s+COLUMN|COMMENT\s+COLUMN|"
                    r"MODIFY\s+(TTL|SETTING|ORDER\s+BY|QUERY)|"
                    r"RESET\s+SETTING|CLEAR\s+COLUMN|ADD\s+INDEX|"
                    r"DROP\s+INDEX|MATERIALIZE\s+INDEX|"
                    r"ADD\s+PROJECTION|DROP\s+PROJECTION|"
                    r"MATERIALIZE\s+PROJECTION|"
                    r"(?:ADD|DROP|MODIFY|CLEAR|MATERIALIZE)\s+"
                    r"STATISTICS?)\b", o):
            # metadata / storage-layout operations with no read-path
            # effect in this engine (defaults materialize at read,
            # indexes rebuild from parts)
            continue
        raise NotImplementedError(f"ALTER operation not mapped: "
                                  f"{o[:60]!r}")
    if mt:
        _register_table_views(spark, name, t, tables, plain=df)
    elif isinstance(t, MemoryTable):
        if df is not None:            # else the last op stored the rows
            t.replace(df)
        _register_table_views(spark, name, t, tables)
    else:
        df.createOrReplaceTempView(name)
        _refresh_alias_views(spark, name, tables)
    return None


def _resolve_view_safe(spark, name: str, t):
    """The registered view for ``name``, or an empty typed frame from
    the declared DDL (part-less managed table), or None."""
    try:
        return spark.table(name)
    except Exception:
        pass
    if t is not None:
        if _decls(t).schema_ddl:
            return spark.createDataFrame([], _decls(t).schema_ddl)
        try:
            return t.read()
        except Exception:
            return None
    return None


def _refresh_alias_views(spark, name: str, tables) -> None:
    """Re-register every alias view pointing at ``name`` (Distributed
    proxies, Replicated second replicas): Spark SQL temp views pin
    their creation-time schema with a compensating projection, so an
    ALTER ADD COLUMN on the local table is invisible through a stale
    alias until re-registration (golden 00446 clear_column2)."""
    for a, local in ((tables or {}).get("__alias__") or {}).items():
        if local == name and a != name:
            try:
                spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW `{a}` "
                          f"AS SELECT * FROM `{name}`")
            except Exception:
                pass


def _register_table_views(spark, name: str, t, tables=None,
                          plain=None) -> None:
    """Register the ``name`` / ``name__final`` views of table ``t``
    from ONE read (``MergeTreeTable.read_views``; a stale view holds
    the old file list), then the alias views over ``name``.
    always_final tables (EmbeddedRocksDB key-value semantics) expose
    FINAL as ``name``; ``plain`` overrides the ``name`` view (ALTER
    column ops transform the registered frame).  A Join-engine table
    has one view, its stored side."""
    if not hasattr(t, "read_views"):
        if hasattr(t, "read"):
            t.read().createOrReplaceTempView(name)
            _refresh_alias_views(spark, name, tables)
        return
    try:
        raw, final = t.read_views()
    except ValueError:
        # TRUNCATE / DELETE-all left zero parts: the reference keeps
        # the table readable as empty — an empty view typed by the
        # declared DDL, else by the old view
        try:
            raw = (spark.createDataFrame([], t.decls.schema_ddl)
                   if t.decls.schema_ddl else spark.table(name).limit(0)
                   .localCheckpoint(eager=True))
        except Exception:
            return
        final = raw
    if t.always_final:
        raw = final
    (raw if plain is None else plain).createOrReplaceTempView(name)
    final.createOrReplaceTempView(f"{name}__final")
    _refresh_alias_views(spark, name, tables)


def _target_schema(spark, name: str, t):
    """Schema of an insert target — the DECLARED DDL first (it tracks
    ALTER ADD/DROP COLUMN even when existing parts predate the change,
    00446 golden), then the part files, then the registered view."""
    if t is not None and hasattr(t, "read"):
        if _decls(t).schema_ddl:
            try:
                return spark.createDataFrame(
                    [], _decls(t).schema_ddl).schema
            except Exception:
                pass
        try:
            return t.read().schema
        except Exception:
            pass
    try:
        return spark.table(name).schema
    except Exception:
        return None


def _append_to_table(spark, name: str, df, tables, _mv_depth: int = 0):
    """Append ``df`` (already aligned by column NAME, possibly a
    subset) to a session table (MergeTree, Memory, Join) or an
    undeclared temp view: casts to the target schema, fills missing
    columns with DEFAULT expressions or CH type defaults, re-registers
    the view (reference InterpreterInsertQuery.h).  ``_mv_depth``
    threads the materialized-view cascade depth so cyclic MV TO
    chains terminate."""
    # Distributed-engine names are aliases of the local table —
    # writes route through (StorageDistributed write path)
    name = ((tables or {}).get("__alias__") or {}).get(name, name)
    t = (tables or {}).get(name)
    schema = _target_schema(spark, name, t)
    if schema is None:
        # schema-less managed table (first insert defines it) — write
        # the frame as-is, exactly the pre-session behavior
        if t is not None and hasattr(t, "insert"):
            t.insert(df)
            _register_table_views(spark, name, t, tables)
            _fire_mv_triggers(spark, name, df, tables,
                              depth=_mv_depth)
            return None
        raise ValueError(f"INSERT: unknown table {name!r}")
    have = set(df.columns)
    decls = _decls(t)
    defaults, tz_map = decls.defaults, decls.timezones
    in_types = {f.name: f.dataType.simpleString()
                for f in df.schema.fields}
    out = []
    # a table declared with a column list: NULLs into non-Nullable
    # columns take the DEFAULT or the type default
    # (input_format_null_as_default); Dynamic columns hold NULL
    # natively (the dynamic type set includes Null)
    nullable_decl = (decls.nullable | decls.dynamic
                     if decls.schema_ddl else None)
    # Object('json') columns store the compacted string carrier too
    json_set = decls.json | decls.obj
    for f in schema.fields:
        if f.name in have:
            # backticks make dotted column NAMES (`n.a`) resolve
            # literally instead of as struct-field qualifiers
            col = F.col(f"`{f.name}`")
            if f.name in tz_map and in_types.get(f.name) == "string":
                # naive string into a DateTime('tz') column: the wall
                # time reads in the COLUMN's zone, stored as instant
                col = F.to_utc_timestamp(col, tz_map[f.name])
            if f.name in json_set and str(
                    in_types.get(f.name, "")).startswith(
                        ("struct", "array", "map")):
                # INSERT SELECT from a finalized Object tuple: the
                # string carrier stores its JSON serialization
                # (golden 01825_type_json_insert_select)
                col = F.to_json(col)
            col = col.cast(f.dataType)
            if f.name in json_set:
                # declared JSON column: the reference parses and
                # re-serializes compactly (DataTypeObject text form)
                try:
                    col = F.coalesce(
                        F.to_json(F.try_parse_json(col)), col)
                except Exception:
                    pass
            if nullable_decl is not None \
                    and f.name not in nullable_decl:
                # NULL into a non-Nullable column takes the declared
                # DEFAULT, else the TYPE default
                # (input_format_null_as_default)
                dflt_sql = (_translate_expr(defaults[f.name])
                            if f.name in defaults
                            else _ch_type_default_sql(f.dataType))
                try:
                    col = F.coalesce(
                        col, F.expr(dflt_sql).cast(f.dataType))
                except Exception:
                    pass
            out.append(col.alias(f.name))
        elif f.name in defaults:
            out.append(F.expr(_translate_expr(defaults[f.name]))
                       .cast(f.dataType).alias(f.name))
        else:
            out.append(F.expr(_ch_type_default_sql(f.dataType))
                       .alias(f.name))
    aligned = df.select(*out)
    if t is not None and hasattr(t, "insert"):
        _check_object_insert_compat(decls, aligned)
        t.insert(aligned)
        _register_table_views(spark, name, t, tables)
    else:
        # undeclared view: the registered frame is the only store
        spark.table(name).unionByName(aligned) \
            .localCheckpoint(eager=True).createOrReplaceTempView(name)
    _fire_mv_triggers(spark, name, aligned, tables, depth=_mv_depth)
    return None


def _check_object_insert_compat(decls, aligned) -> None:
    """Object('json') path-type evolution contract (DataTypeObject
    unification): SCALAR paths may widen/decay across inserts, but a
    container-kind change (object vs array) or a scalar-kind change
    INSIDE a Nested array rejects (reference INCOMPATIBLE_COLUMNS —
    goldens 01825_type_json_14 / _insert_select id=5)."""
    objs = decls.obj | decls.obj_array
    trees = decls.obj_trees
    if not objs or not trees:
        return
    from ..sources.rowformats import object_type_tree

    def conflict(a, b, in_array=False) -> bool:
        if a is None or b is None:
            return False
        if a[0] != b[0]:
            return ("struct" in (a[0], b[0])
                    or "array" in (a[0], b[0]))
        if a[0] == "struct":
            bd = dict(b[1])
            return any(conflict(s, bd.get(k), in_array)
                       for k, s in a[1])
        if a[0] == "array":
            return conflict(a[1], b[1], True)
        # scalar kinds always MIGRATE (widen/decay to String)
        return False

    for c in objs:
        old = trees.get(c)
        if old is None or c not in aligned.columns:
            continue
        if isinstance(old, tuple) and old[0] == "array" \
                and c in decls.obj_array:
            old = old[1]
        try:
            vals = [r[0] for r in aligned.select(f"`{c}`").collect()]
            if c in decls.obj_array:
                vals = [e for v in vals for e in (v or [])]
            new = object_type_tree(vals)
        except Exception:
            continue
        if conflict(old, new):
            raise ValueError(
                f"Object column {c!r}: incompatible path types "
                f"between inserts (reference INCOMPATIBLE_COLUMNS)")


_MV_BLOCK_COUNTER = [0]


def _fire_mv_triggers(spark, name: str, block, tables,
                      depth: int = 0) -> None:
    """Propagate an inserted block through CREATE MATERIALIZED VIEW
    ... TO targets (StorageMaterializedView push to the target table):
    the MV select runs over the INSERTED BLOCK only and the result
    appends to the TO table; cascading MVs chain (bounded depth)."""
    trigs = (tables or {}).get("__mv_to__")
    if not trigs:
        return
    if depth > 8:
        # cyclic MV TO chain (A→B, B→A): the reference rejects such
        # pushes with TOO_DEEP_RECURSION-class errors rather than
        # looping
        raise ValueError(
            f"materialized-view cascade exceeded depth 8 at "
            f"table {name!r} (cyclic MV TO chain?)")
    for trig in list(trigs):
        if trig.get("src") != name:
            continue
        _MV_BLOCK_COUNTER[0] += 1
        vname = f"__mv_block_{_MV_BLOCK_COUNTER[0]}"
        block.localCheckpoint(eager=True).createOrReplaceTempView(vname)
        sel = re.sub(rf"(?is)\bFROM\s+`?{re.escape(name)}`?\b",
                     f"FROM {vname}", trig["select"], count=1)
        try:
            out = ch_sql(spark, sel, tables=tables)
            if out is not None:
                _append_to_table(spark, trig["dst"], out, tables,
                                 _mv_depth=depth + 1)
                # the mv view keeps the SELECT's own column list even
                # when the target gained columns (golden 01069) — the
                # lazy SQL view registered at CREATE re-reads the
                # target's fresh view by NAME; only re-register when
                # the lazy view is gone
                try:
                    spark.table(trig["name"])
                except Exception:
                    try:
                        spark.table(trig["dst"]) \
                            .createOrReplaceTempView(trig["name"])
                    except Exception:
                        pass
        except Exception as exc:
            # the reference INSERT fails when an MV push fails
            # (materialized_views_ignore_errors defaults to false) —
            # surface it instead of dropping the block silently
            raise ValueError(
                f"materialized view {trig.get('name')!r} push to "
                f"{trig.get('dst')!r} failed: {exc}") from exc
        finally:
            try:
                spark.catalog.dropTempView(vname)
            except Exception:
                pass


def _truncate_long_decimal_literals(expr: str) -> str:
    """Bare decimal literals longer than Spark's 38-digit literal
    ceiling truncate their FRACTION (the reference parses the value
    and truncates to the target scale on insert — the integer part
    must still fit, checked downstream)."""

    def cut(mm):
        ip, fp = mm.group(1), mm.group(2)
        keep = max(0, 38 - len(ip.lstrip("-")))
        return f"{ip}.{fp[:keep]}" if keep else ip

    return re.sub(r"(-?\d+)\.(\d{30,})(?![\d.eE])", cut, expr)


def _split_json_objects(body: str) -> list[str]:
    """Split inline JSON data (``{...} {...}`` / ``[...] [...]``,
    whitespace- or newline-separated) into document texts —
    brace-depth scan, string-aware."""
    docs, i, n = [], 0, len(body)
    while i < n:
        c = body[i]
        if c in " \t\r\n,;":
            i += 1
            continue
        if c not in "{[":
            raise ValueError(
                f"inline JSON rows: expected '{{' at {body[i:i+24]!r}")
        open_c, close_c = c, ("}" if c == "{" else "]")
        depth, j = 0, i
        while j < n:
            ch = body[j]
            if ch == '"':
                j += 1
                while j < n and body[j] != '"':
                    j += 2 if body[j] == "\\" else 1
            elif ch == open_c:
                depth += 1
            elif ch == close_c:
                depth -= 1
                if depth == 0:
                    break
            j += 1
        docs.append(body[i:j + 1])
        i = j + 1
    return docs


def _insert_json_rows(spark, name: str, cols_raw, fmt: str, body,
                      tables):
    """``INSERT INTO t FORMAT JSONEachRow {...} {...}`` — inline JSON
    data after the FORMAT clause (the reference client feeds the
    statement tail to JSONEachRowRowInputFormat; also
    JSONCompactEachRow positional arrays and the JSONAsObject/
    JSONAsString whole-document-per-row forms)."""
    import json as _json
    t = (tables or {}).get(name)
    schema = _target_schema(spark, name, t)
    if schema is None:
        raise ValueError(f"INSERT FORMAT JSON*: no declared schema "
                         f"for {name!r}")
    docs = _split_json_objects(body)
    if fmt in ("jsonasobject", "jsonasstring"):
        # whole document into the single (JSON-carrier) column
        target = (cols_raw.strip().strip("`") if cols_raw
                  and cols_raw.strip() else schema.fields[0].name)
        df = spark.createDataFrame([(d,) for d in docs],
                                   f"`{target}` string")
        return _append_to_table(spark, name, df, tables)
    names = [f.name for f in schema.fields]
    cols = ([c.strip().strip("`") for c in cols_raw.split(",")]
            if cols_raw and cols_raw.strip() else names)
    if fmt == "jsoncompacteachrow":
        docs = ["{" + ", ".join(
            f"{_json.dumps(cols[k])}: {_json.dumps(v)}"
            for k, v in enumerate(_json.loads(d))) + "}"
            for d in docs]
    df = spark.read.json(
        spark.sparkContext.parallelize(docs, max(1, min(len(docs), 4))))
    str_targets = {f.name for f in schema.fields
                   if f.dataType.simpleString() == "string"}
    arr_str_targets = {f.name for f in schema.fields
                       if f.dataType.simpleString()
                       == "array<string>"}
    for f2 in df.schema.fields:
        if f2.name in str_targets and \
                not f2.dataType.simpleString().startswith(
                    ("string", "binary")):
            # nested JSON value into a string/JSON-carrier column
            df = df.withColumn(f2.name, F.to_json(F.col(f"`{f2.name}`"))
                               if f2.dataType.simpleString().startswith(
                                   ("struct", "array", "map"))
                               else F.col(f"`{f2.name}`").cast("string"))
        elif f2.name in arr_str_targets and \
                f2.dataType.simpleString().startswith(
                    ("array<struct", "array<array", "array<map")):
            # array of nested JSON values into an Array(String) /
            # Array(Object) carrier: per-ELEMENT serialization
            # (golden 01825_type_json_in_array)
            df = df.withColumn(
                f2.name, F.transform(F.col(f"`{f2.name}`"),
                                     lambda e: F.to_json(e)))
    # missing/null fields fill with the column type default — the
    # reference's input_format_null_as_default + missing-field rule
    # applies to non-Nullable targets ONLY; declared Nullable columns
    # keep NULL
    nullable = _decls(t).nullable
    for f3 in schema.fields:
        if f3.name in df.columns and f3.name not in nullable:
            dflt = _ch_type_default_sql(f3.dataType)
            df = df.withColumn(
                f3.name, F.coalesce(
                    F.col(f"`{f3.name}`").cast(f3.dataType),
                    F.expr(dflt).cast(f3.dataType)))
    return _append_to_table(spark, name, df, tables)


def _insert_values_statement(spark, name: str, cols_raw, body, tables):
    """``INSERT INTO t [(cols)] VALUES (..), (..)`` — each tuple
    element is a CH expression (ValuesBlockInputFormat parses full
    expressions, src/Processors/Formats/Impl/ValuesBlockInputFormat.h);
    translated and evaluated through one inline VALUES relation."""
    t = (tables or {}).get(name)
    if t is None and not spark.catalog.tableExists(name):
        raise ValueError(f"INSERT: unknown table {name!r}")
    schema = _target_schema(spark, name, t)
    if schema is None:
        raise ValueError(
            f"INSERT VALUES: no declared schema for {name!r}")
    names = [f.name for f in schema.fields]
    cols = ([c.strip().strip("`") for c in cols_raw.split(",")]
            if cols_raw and cols_raw.strip() else names)
    obj_cols = _decls(t).obj
    if obj_cols and re.search(r"(?i)::\s*Tuple\s*\(", body):
        # a literal named-tuple cast inserted into an Object('json')
        # column becomes the equivalent JSON object (golden
        # 01825_type_json_field)
        import json as _json0

        def _tuple_to_json(m0):
            elems = [e.strip() for e in
                     _split_top_commas(m0.group(1))]
            fields0 = [f0.strip().split(None, 1)
                       for f0 in _split_top_commas(m0.group(2))]
            if len(elems) != len(fields0) \
                    or any(len(f0) != 2 for f0 in fields0):
                return m0.group(0)
            doc = {}
            for (fn, _ft), ev in zip(fields0, elems):
                if re.fullmatch(r"-?\d+", ev):
                    doc[fn.strip("`")] = int(ev)
                elif re.fullmatch(r"-?\d*\.\d+", ev):
                    doc[fn.strip("`")] = float(ev)
                elif ev.startswith("'") and ev.endswith("'"):
                    doc[fn.strip("`")] = ev[1:-1].replace("\\'", "'")
                else:
                    return m0.group(0)
            return ("'" + _json0.dumps(doc, separators=(",", ":"))
                    .replace("'", "\\'") + "'")

        body = re.sub(r"\(([^()]*)\)\s*::\s*Tuple\s*\(([^()]*)\)",
                      _tuple_to_json, body)
    if obj_cols and re.search(r"(?i)\bmap\s*\(", body):
        # a literal map(...) into an Object('json') column is the
        # equivalent JSON object too (golden 01825_type_json_field)
        import json as _json1

        def _map_to_json(m0):
            items = [e.strip() for e in
                     _split_top_commas(m0.group(1))]
            if len(items) % 2 or not items:
                return m0.group(0)
            doc = {}
            for k0, v0 in zip(items[::2], items[1::2]):
                if not (k0.startswith("'") and k0.endswith("'")):
                    return m0.group(0)
                k0 = k0[1:-1]
                if re.fullmatch(r"-?\d+", v0):
                    doc[k0] = int(v0)
                elif re.fullmatch(r"-?\d*\.\d+", v0):
                    doc[k0] = float(v0)
                elif v0.startswith("'") and v0.endswith("'"):
                    doc[k0] = v0[1:-1].replace("\\'", "'")
                else:
                    return m0.group(0)
            return ("'" + _json1.dumps(doc, separators=(",", ":"))
                    .replace("'", "\\'") + "'")

        body = re.sub(r"(?i)\bmap\s*\(([^()]*)\)", _map_to_json,
                      body)
    # Dynamic columns carry as STRINGS — mixed-type VALUES tuples
    # ((42), ('str')) need per-element coercion or Spark's inline
    # table rejects the column
    dyn = _decls(t).dynamic
    rows = []
    for tup in _split_value_tuples(body):
        elems = _split_top_commas(tup)
        if len(elems) != len(cols):
            raise ValueError(
                f"INSERT VALUES: {len(elems)} values for "
                f"{len(cols)} columns {cols}")
        parts = []
        for c, e in zip(cols, elems):
            x = _translate_expr(_rewrite_map_literals(
                _truncate_long_decimal_literals(e.strip())))
            if c in dyn and x.strip().upper() != "NULL":
                x = f"CAST({x} AS STRING)"
            parts.append(x)
        rows.append("(" + ", ".join(parts) + ")")
    quoted = ", ".join(f"`{c}`" for c in cols)
    df = spark.sql(
        f"SELECT * FROM VALUES {', '.join(rows)} AS __v({quoted})")
    return _append_to_table(spark, name, df, tables)


def register_mergetree_sql(spark, name: str, df, engine: str = "replacing",
                           keys=(), version: str | None = None,
                           sign: str | None = None,
                           sum_cols=None) -> None:
    """Register ``name`` (raw appended rows) and ``name__final`` (the
    engine's merge semantics applied at read time) as temp views, so
    ``ch_sql`` can serve ``SELECT ... FROM name FINAL`` (reference FINAL
    modifier, src/Parsers/ParserSelectQuery.h:10; engine merge rules
    src/Storages/MergeTree/registerStorageMergeTree.cpp:931-937)."""
    from ..operators import final as _final
    df.createOrReplaceTempView(name)
    keys = list(keys)
    if engine == "replacing":
        fin = _final.replacing_final(df, keys, version=version)
    elif engine == "summing":
        fin = _final.summing_final(df, keys, sum_cols=sum_cols)
    elif engine == "collapsing":
        fin = _final.collapsing_final(df, keys, sign=sign)
    elif engine == "versioned_collapsing":
        fin = _final.versioned_collapsing_final(df, keys, sign=sign,
                                                version=version)
    elif engine == "coalescing":
        fin = _final.coalescing_final(df, keys)
    else:
        raise ValueError(f"unknown merge engine: {engine}")
    fin.createOrReplaceTempView(f"{name}__final")
