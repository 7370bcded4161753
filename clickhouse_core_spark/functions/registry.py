"""CH function name -> Spark Column expression registry.

Grouped by the reference's function families (SURVEY.md §2.8):
arithmetic (src/Functions/FunctionBinaryArithmetic.h), strings
(src/Functions/substring.cpp etc.), search (FunctionsStringSearch.h),
date/time (DateTimeTransforms.h), URL (src/Functions/URL/), IP
(FunctionsCodingIP.cpp), encoding (FunctionsBinaryRepresentation.cpp,
FunctionBase64Conversion.h), hashing (FunctionsHashing.h), rounding
(FunctionsRound.h), conditionals (if.cpp / multiIf.cpp), arrays
(src/Functions/array/), maps/tuples (map.cpp, tuple.cpp), JSON
(FunctionsJSON.cpp).

Each entry is a callable (*args: Column|literal) -> Column built from
pyspark.sql.functions — JVM-side, codegen-friendly. Functions whose CH
behavior differs from the closest Spark builtin get a thin expression
wrapper documenting the contract; nothing row-at-a-time.
"""

from __future__ import annotations

import re

from types import SimpleNamespace

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def _make_date_doy(y, doy, lo_year: int, hi_year: int) -> Column:
    """makeDate(year, dayofyear) 2-arg form (makeDate.cpp): same
    default-on-invalid contract."""
    yy = _c(y).cast("int")
    dd = _c(doy).cast("int")
    yc = F.greatest(F.least(yy, F.lit(hi_year)), F.lit(lo_year))
    max_doy = F.dayofyear(F.make_date(yc, F.lit(12), F.lit(31)))
    valid = yy.between(lo_year, hi_year) & dd.between(1, max_doy)
    return (F.when(yy.isNull() | dd.isNull(), F.lit(None).cast("date"))
            .when(valid, F.date_add(F.make_date(yc, F.lit(1), F.lit(1)),
                                    F.greatest(dd, F.lit(1)) - 1))
            .otherwise(F.lit("1970-01-01").cast("date")))


def _make_date_impl(y, m, d, lo_year: int, hi_year: int) -> Column:
    """makeDate/makeDate32 (src/Functions/makeDate.cpp): any invalid
    or out-of-range combination yields the DEFAULT date 1970-01-01
    (not NULL, not a clamp); NULL inputs propagate NULL.  The
    day-in-month probe clamps its inputs so the check itself never
    throws under ANSI."""
    yy = _c(y).cast("int")
    mm = _c(m).cast("int")
    dd = _c(d).cast("int")
    yc = F.greatest(F.least(yy, F.lit(hi_year)), F.lit(lo_year))
    mc = F.greatest(F.least(mm, F.lit(12)), F.lit(1))
    max_day = F.dayofmonth(F.last_day(F.make_date(yc, mc, F.lit(1))))
    valid = (yy.between(lo_year, hi_year) & mm.between(1, 12)
             & dd.between(1, max_day))
    return (F.when(yy.isNull() | mm.isNull() | dd.isNull(),
                   F.lit(None).cast("date"))
            .when(valid, F.make_date(yc, mc,
                                     F.greatest(F.least(dd, max_day),
                                                F.lit(1))))
            .otherwise(F.lit("1970-01-01").cast("date")))


# --------------------------------------------------------------- datetime
# Reference: src/Functions/DateTimeTransforms.h, toStartOfInterval.cpp,
# dateDiff.cpp, formatDateTime.cpp.

_DT = {
    "toYear": lambda x: F.year(_c(x)),
    "toQuarter": lambda x: F.quarter(_c(x)),
    "toMonth": lambda x: F.month(_c(x)),
    "toDayOfMonth": lambda x: F.dayofmonth(_c(x)),
    "toDayOfWeek": lambda x: ((F.dayofweek(_c(x)) + 5) % 7) + 1,  # CH: Mon=1
    "toDayOfYear": lambda x: F.dayofyear(_c(x)),
    "toHour": lambda x: F.hour(_c(x)),
    "toMinute": lambda x: F.minute(_c(x)),
    "toSecond": lambda x: F.second(_c(x)).cast("int"),
    "toUnixTimestamp": lambda x: F.unix_timestamp(_c(x)),
    "fromUnixTimestamp": lambda x: F.timestamp_seconds(_c(x)),
    "toStartOfYear": lambda x: F.date_trunc("year", _c(x)),
    "toStartOfQuarter": lambda x: F.date_trunc("quarter", _c(x)),
    "toStartOfMonth": lambda x: F.date_trunc("month", _c(x)),
    "toStartOfWeek": lambda x: F.date_trunc("week", _c(x)),
    "toStartOfDay": lambda x: F.date_trunc("day", _c(x)),
    "toStartOfHour": lambda x: F.date_trunc("hour", _c(x)),
    "toStartOfMinute": lambda x: F.date_trunc("minute", _c(x)),
    "toStartOfFifteenMinutes": lambda x: F.timestamp_seconds(
        (F.unix_timestamp(_c(x)) / 900).cast("long") * 900),
    "toStartOfInterval": lambda x, iv: F.date_trunc(iv, _c(x)),
    "toDate": lambda x: F.to_date(_c(x)),
    "toDateTime": lambda x: F.to_timestamp(_c(x)),
    "today": lambda: F.current_date(),
    "now": lambda: F.current_timestamp(),
    "yesterday": lambda: F.date_sub(F.current_date(), 1),
    "addYears": lambda x, n: F.add_months(_c(x), 12 * n),
    "addMonths": lambda x, n: F.add_months(_c(x), n),
    "addWeeks": lambda x, n: F.date_add(_c(x), 7 * n),
    "addDays": lambda x, n: F.date_add(_c(x), n),
    "addHours": lambda x, n: F.timestamp_seconds(F.unix_timestamp(_c(x)) + 3600 * n),
    "addMinutes": lambda x, n: F.timestamp_seconds(F.unix_timestamp(_c(x)) + 60 * n),
    "addSeconds": lambda x, n: F.timestamp_seconds(F.unix_timestamp(_c(x)) + n),
    "subtractYears": lambda x, n: F.add_months(_c(x), -12 * n),
    "subtractMonths": lambda x, n: F.add_months(_c(x), -n),
    "subtractDays": lambda x, n: F.date_sub(_c(x), n),
    "dateDiff": lambda unit, a, b: _date_diff(unit, a, b),
    "date_trunc": lambda unit, x: F.date_trunc(unit, _c(x)),
    "toYYYYMM": lambda x: (F.year(_c(x)) * 100 + F.month(_c(x))),
    "toYYYYMMDD": lambda x: (F.year(_c(x)) * 10000 + F.month(_c(x)) * 100
                             + F.dayofmonth(_c(x))),
    # CH formatDateTime uses MySQL-style %-codes; the full Instruction
    # table (reference src/Functions/formatDateTime.cpp) lives in
    # mysqlfmt.py — literal text is pattern-quoted, computed
    # specifiers (%C %e %g %G %u %V %w %Q) compose via concat.
    "formatDateTime": lambda x, fmt: _format_datetime_col(x, fmt),
    "toMonday": lambda x: F.date_trunc("week", _c(x)),
    "toLastDayOfMonth": lambda x: F.last_day(_c(x)),
}


def _date_diff(unit: str, a, b) -> Column:
    """dateDiff('day', a, b) = b - a in whole units (reference
    src/Functions/dateDiff.cpp)."""
    unit = unit.lower()
    if unit in ("day", "dd", "d"):
        return F.datediff(_c(b), _c(a)).cast("long")
    if unit in ("month", "mm", "m"):
        return F.months_between(_c(b), _c(a)).cast("long")
    if unit in ("year", "yyyy", "yy"):
        return (F.year(_c(b)) - F.year(_c(a))).cast("long")
    if unit in ("hour", "hh", "h"):
        return ((F.unix_timestamp(_c(b)) - F.unix_timestamp(_c(a))) / 3600).cast("long")
    if unit in ("minute", "mi", "n"):
        return ((F.unix_timestamp(_c(b)) - F.unix_timestamp(_c(a))) / 60).cast("long")
    if unit in ("second", "ss", "s"):
        return (F.unix_timestamp(_c(b)) - F.unix_timestamp(_c(a))).cast("long")
    if unit in ("week", "wk", "ww"):
        return (F.datediff(_c(b), _c(a)) / 7).cast("long")
    raise ValueError(f"unsupported dateDiff unit {unit}")


_MYSQL_TO_SPARK = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%i", "mm"), ("%S", "ss"), ("%M", "MMMM"),
    ("%W", "EEEE"), ("%a", "EEE"), ("%b", "MMM"), ("%j", "DDD"),
    ("%F", "yyyy-MM-dd"), ("%T", "HH:mm:ss"), ("%e", "d"), ("%%", "%"),
]


def _mysql_fmt(fmt: str) -> str:
    for k, v in _MYSQL_TO_SPARK:
        fmt = fmt.replace(k, v)
    return fmt


def _format_datetime_col(x, fmt: str) -> Column:
    from clickhouse_core_spark.functions import mysqlfmt
    xc = _c(x)
    computed = {
        "C": lambda: F.lpad(F.floor(F.year(xc) / 100).cast("int")
                            .cast("string"), 2, "0"),
        "e": lambda: F.lpad(F.dayofmonth(xc).cast("string"), 2, " "),
        "g": lambda: F.lpad((F.date_part(F.lit("YEAROFWEEK"), xc)
                             % 100).cast("string"), 2, "0"),
        "G": lambda: F.date_part(F.lit("YEAROFWEEK"), xc)
                      .cast("string"),
        "u": lambda: (F.weekday(xc) + 1).cast("string"),
        "V": lambda: F.lpad(F.weekofyear(xc).cast("string"), 2, "0"),
        "w": lambda: (F.dayofweek(xc) - 1).cast("string"),
        "Q": lambda: F.quarter(xc).cast("string"),
    }
    pieces = [F.date_format(xc, payload) if kind == "pat"
              else computed[payload]()
              for kind, payload in mysqlfmt.merge_pattern_runs(
                  mysqlfmt.segments(fmt))]
    if not pieces:
        return F.lit("")
    return pieces[0] if len(pieces) == 1 else F.concat(*pieces)


# ----------------------------------------------------------------- strings
# Reference: individual files under src/Functions/ (substring.cpp,
# concat.cpp, trim.cpp, ...), FunctionsStringSearch.h, splitByChar.cpp.

_STR = {
    # CH String is raw bytes: length() counts BYTES
    # (src/Functions/lengthString... length.cpp); lengthUTF8 counts code
    # points.  octet_length vs length is exactly that split in Spark.
    "length": lambda x: F.octet_length(_c(x)).cast("long"),
    "lengthUTF8": lambda x: F.length(_c(x)).cast("long"),
    "char_length": lambda x: F.length(_c(x)).cast("long"),
    "character_length": lambda x: F.length(_c(x)).cast("long"),
    "empty": lambda x: (F.length(_c(x)) == 0).cast("int"),
    "notEmpty": lambda x: (F.length(_c(x)) > 0).cast("int"),
    "lower": lambda x: F.lower(_c(x)),
    "upper": lambda x: F.upper(_c(x)),
    "lowerUTF8": lambda x: F.lower(_c(x)),
    "upperUTF8": lambda x: F.upper(_c(x)),
    "reverse": lambda x: F.reverse(_c(x)),
    "concat": lambda *xs: F.concat(*[_c(x) for x in xs]),
    "concatWithSeparator": lambda sep, *xs: F.concat_ws(sep, *[_c(x) for x in xs]),
    "repeat": lambda x, n: F.repeat(_c(x), n),
    "leftPad": lambda x, n, p=" ": F.lpad(_c(x), n, p),
    "rightPad": lambda x, n, p=" ": F.rpad(_c(x), n, p),
    "trimBoth": lambda x: F.trim(_c(x)),
    "trimLeft": lambda x: F.ltrim(_c(x)),
    "trimRight": lambda x: F.rtrim(_c(x)),
    "appendTrailingCharIfAbsent": lambda x, ch_: F.when(
        F.endswith(_c(x), F.lit(ch_)), _c(x)).otherwise(F.concat(_c(x), F.lit(ch_))),
    "left": lambda x, n: F.substring(_c(x), 1, n),
    "right": lambda x, n: F.substring(_c(x), -n, n),
    "ascii": lambda x: F.ascii(_c(x)),
    "initcap": lambda x: F.initcap(_c(x)),
    "splitByChar": lambda sep, x: F.split(_c(x), _regex_escape(sep)),
    "splitByString": lambda sep, x: F.split(_c(x), _regex_escape(sep)),
    "splitByRegexp": lambda rx, x: F.split(_c(x), rx),
    "splitByWhitespace": lambda x: F.split(F.trim(_c(x)), r"\s+"),
    "arrayStringConcat": lambda arr, sep="": F.array_join(_c(arr), sep),
    "position": lambda h, n: F.instr(_c(h), n).cast("long"),
    "positionCaseInsensitive": lambda h, n: F.instr(F.lower(_c(h)), str(n).lower()).cast("long"),
    "locate": lambda n, h: F.instr(_c(h), n).cast("long"),
    "like": lambda x, p: _c(x).like(p).cast("int"),
    "notLike": lambda x, p: (~_c(x).like(p)).cast("int"),
    "ilike": lambda x, p: _c(x).ilike(p).cast("int"),
    "match": lambda x, rx: _c(x).rlike(rx).cast("int"),
    "extract": lambda x, rx: F.regexp_extract(_c(x), rx, 1),
    "extractAll": lambda x, rx: F.regexp_extract_all(_c(x), F.lit(rx), F.lit(1)),
    # replaceOne/replaceRegexpOne substitute only the FIRST occurrence
    # (reference src/Functions/ReplaceStringImpl.h replace_first) — Spark
    # has no replace-first builtin, so splice around the first match.
    "replaceOne": lambda x, pat, rep: _replace_one(_c(x), pat, rep),
    "replaceAll": lambda x, pat, rep: F.replace(_c(x), F.lit(pat), F.lit(rep)),
    "replaceRegexpAll": lambda x, rx, rep: F.regexp_replace(_c(x), rx, rep),
    "replaceRegexpOne": lambda x, rx, rep: _replace_regexp_one(_c(x), rx, rep),
    "startsWith": lambda x, p: F.startswith(_c(x), _c(p)).cast("int"),
    "endsWith": lambda x, p: F.endswith(_c(x), _c(p)).cast("int"),
    "countSubstrings": lambda x, n: (
        (F.length(_c(x)) - F.length(F.replace(_c(x), F.lit(n), F.lit(""))))
        / F.length(F.lit(n))).cast("long"),
    "multiSearchAny": lambda x, needles: F.when(
        _c(x).rlike("|".join(_regex_escape(n) for n in needles)), 1).otherwise(0),
    "levenshteinDistance": lambda a, b: F.levenshtein(_c(a), _c(b)),
    "editDistance": lambda a, b: F.levenshtein(_c(a), _c(b)),
    # stringJaccardIndex (reference src/Functions/FunctionsStringDistance.cpp):
    # Jaccard similarity of the character SETS — pure built-in array ops.
    "stringJaccardIndex": lambda a, b: (
        F.size(F.array_intersect(F.array_distinct(F.split(_c(a), "")),
                                 F.array_distinct(F.split(_c(b), ""))))
        / F.size(F.array_union(F.array_distinct(F.split(_c(a), "")),
                               F.array_distinct(F.split(_c(b), ""))))),
    "soundex": lambda x: F.soundex(_c(x)),
    "normalizeQuery": lambda x: F.regexp_replace(_c(x), r"\s+", " "),
    "tokens": lambda x: F.split(F.trim(F.regexp_replace(
        F.lower(_c(x)), r"[^\p{L}\p{N}]+", " ")), r"\s+"),
    "format": lambda fmt, *xs: F.format_string(fmt.replace("{}", "%s"), *[_c(x) for x in xs]),
    "toString": lambda x: _c(x).cast("string"),
    "toFixedString": lambda x, n: F.rpad(_c(x), n, "\x00"),
}
_STR["substring"] = lambda x, pos, ln=8192: F.substring(_c(x), pos, ln)


def _regex_escape(s: str) -> str:
    out = []
    for chh in s:
        if chh in r"\.^$|?*+()[]{}":
            out.append("\\" + chh)
        else:
            out.append(chh)
    return "".join(out)


def _replace_one(x: Column, pat, rep) -> Column:
    """First-occurrence literal replace: splice around instr()."""
    pat_c, rep_c = _c(pat), _c(rep)
    pos = F.instr(x, pat_c)
    spliced = F.concat(F.substring(x, F.lit(1), pos - 1), rep_c,
                       F.substring(x, pos + F.length(pat_c),
                                   F.length(x)))
    return F.when(pos > 0, spliced).otherwise(x)


def _replace_regexp_one(x: Column, rx, rep) -> Column:
    """First-occurrence regexp replace with backref support: run
    regexp_replace only on the prefix that ends exactly at the end of
    the first match (leftmost matching ⇒ that prefix contains exactly
    one match), then append the untouched tail."""
    pos = F.regexp_instr(x, _c(rx))
    end = pos + F.length(F.regexp_substr(x, _c(rx)))
    head = F.substring(x, F.lit(1), end - 1)
    tail = F.substring(x, end, F.length(x))
    return F.when(pos > 0,
                  F.concat(F.regexp_replace(head, _c(rx), rep), tail)
                  ).otherwise(x)


# --------------------------------------------------------------------- URL
# Reference: src/Functions/URL/ (domain.cpp, path.cpp, queryString.cpp,
# extractURLParameter.cpp, protocol.cpp, topLevelDomain.cpp).
# parse_url is Spark's builtin URL dissector.

_URL = {
    "protocol": lambda x: F.lower(F.parse_url(_c(x), F.lit("PROTOCOL"))),
    "domain": lambda x: F.parse_url(_c(x), F.lit("HOST")),
    "domainWithoutWWW": lambda x: F.regexp_replace(
        F.parse_url(_c(x), F.lit("HOST")), r"^www\.", ""),
    "topLevelDomain": lambda x: F.element_at(
        F.split(F.parse_url(_c(x), F.lit("HOST")), r"\."), -1),
    # ExtractFirstSignificantSubdomain.h: the label before the TLD,
    # stepping over compound public suffixes (full gperf public-suffix
    # list replaced by the common-compound subset below — LIMITS.md)
    "firstSignificantSubdomain": lambda x: _fss_extract(x, cut=False),
    "path": lambda x: F.parse_url(_c(x), F.lit("PATH")),
    "pathFull": lambda x: F.concat_ws(
        "?", F.parse_url(_c(x), F.lit("PATH")), F.parse_url(_c(x), F.lit("QUERY"))),
    "queryString": lambda x: F.parse_url(_c(x), F.lit("QUERY")),
    "fragment": lambda x: F.parse_url(_c(x), F.lit("REF")),
    "extractURLParameter": lambda x, name: F.parse_url(
        _c(x), F.lit("QUERY"), F.lit(name)),
    "extractURLParameters": lambda x: F.split(F.parse_url(_c(x), F.lit("QUERY")), "&"),
    "cutQueryString": lambda x: F.element_at(F.split(_c(x), r"\?"), 1),
    "cutFragment": lambda x: F.element_at(F.split(_c(x), "#"), 1),
    "decodeURLComponent": lambda x: F.url_decode(_c(x)),
    "encodeURLComponent": lambda x: F.url_encode(_c(x)),
    "netloc": lambda x: F.parse_url(_c(x), F.lit("AUTHORITY")),
}

# ---------------------------------------------------------------------- IP
# Reference: src/Functions/FunctionsCodingIP.cpp. IPv4 as UInt32 <->
# dotted string via pure arithmetic (no UDF).

_IP = {
    # try_element_at/try_cast: malformed addresses yield NULL instead of
    # an ANSI-mode error (the reference throws; OrNull escape documented)
    "IPv4StringToNum": lambda x: (
        F.try_element_at(F.split(_c(x), r"\."), F.lit(1)).try_cast("long") * 16777216
        + F.try_element_at(F.split(_c(x), r"\."), F.lit(2)).try_cast("long") * 65536
        + F.try_element_at(F.split(_c(x), r"\."), F.lit(3)).try_cast("long") * 256
        + F.try_element_at(F.split(_c(x), r"\."), F.lit(4)).try_cast("long")),
    "IPv4NumToString": lambda x: F.concat_ws(
        ".",
        (_c(x) / 16777216).cast("long") % 256,
        (_c(x) / 65536).cast("long") % 256,
        (_c(x) / 256).cast("long") % 256,
        _c(x).cast("long") % 256),
    "IPv4CIDRToRange": lambda x, bits: F.struct(
        (_c(x).bitwiseAND(F.lit(-1 << (32 - bits)) & 0xFFFFFFFF)).alias("lo"),
        (_c(x).bitwiseOR(F.lit((1 << (32 - bits)) - 1))).alias("hi")),
    "isIPv4String": lambda x: _c(x).rlike(
        r"^((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}(25[0-5]|2[0-4]\d|1?\d?\d)$").cast("int"),
    # isIPv6String: full/compressed colon-hex forms (structure check;
    # the reference additionally validates via inet_pton)
    "isIPv6String": lambda x: _c(x).rlike(
        r"^([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}$|"
        r"^(([0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{1,4})?::"
        r"(([0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{1,4})?$").cast("int"),
    # toIPv4/toIPv6 OrDefault/OrNull (FunctionsConversion.h IP forms):
    # carrier is the canonical string (Spark has no IP type)
    "toIPv4OrNull": lambda x: F.when(_c(x).rlike(
        r"^((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}(25[0-5]|2[0-4]\d|1?\d?\d)$"),
        _c(x)),
    "toIPv4OrDefault": lambda x, d="0.0.0.0": F.coalesce(
        F.when(_c(x).rlike(
            r"^((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}"
            r"(25[0-5]|2[0-4]\d|1?\d?\d)$"), _c(x)),
        _c(d) if isinstance(d, Column) else F.lit(d)),
    "toIPv6OrNull": lambda x: F.when(_c(x).rlike(
        r"^([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}$|"
        r"^(([0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{1,4})?::"
        r"(([0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{1,4})?$"), F.lower(_c(x))),
    "toIPv6OrDefault": lambda x, d="::": F.coalesce(
        F.when(_c(x).rlike(
            r"^([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}$|"
            r"^(([0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{1,4})?::"
            r"(([0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{1,4})?$"), F.lower(_c(x))),
        _c(d) if isinstance(d, Column) else F.lit(d)),
}

# ----------------------------------------------------------------- encoding
# Reference: FunctionsBinaryRepresentation.cpp, FunctionBase64Conversion.h.

_ENC = {
    "hex": lambda x: F.upper(F.hex(_c(x))),
    "unhex": lambda x: F.unhex(_c(x)),
    "bin": lambda x: F.bin(_c(x)),
    "base64Encode": lambda x: F.base64(_c(x).cast("binary")),
    "base64Decode": lambda x: F.unbase64(_c(x)).cast("string"),
    "tryBase64Decode": lambda x: F.unbase64(_c(x)).cast("string"),
    "char": lambda *xs: F.concat(*[F.char(_c(x)) for x in xs]),
    # encrypt/decrypt live in _MISC3 (single registration with the
    # documented binary-out/string-in type policy + IV + try variants —
    # reference src/Functions/FunctionsAES.cpp)
}

# ------------------------------------------------------------------ hashing
# Reference: src/Functions/FunctionsHashing.h. cityHash64/sipHash64 have
# no JVM twin — xxhash64 is the documented stand-in (same contract:
# stable 64-bit; different values).

_HASH = {
    "xxHash64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "xxHash32": lambda *xs: F.hash(*[_c(x) for x in xs]),
    "cityHash64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "sipHash64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "farmHash64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "MD5": lambda x: F.lower(F.md5(_c(x).cast("binary"))),
    "SHA1": lambda x: F.sha1(_c(x).cast("binary")),
    "SHA256": lambda x: F.sha2(_c(x).cast("binary"), 256),
    "SHA512": lambda x: F.sha2(_c(x).cast("binary"), 512),
    "CRC32": lambda x: F.crc32(_c(x).cast("binary")),
}

# ----------------------------------------------------------------- rounding
# Reference: src/Functions/FunctionsRound.h.

_ROUND = {
    "round": lambda x, n=0: F.round(_c(x), n),
    "roundBankers": lambda x, n=0: F.bround(_c(x), n),
    "floor": lambda x, n=0: (F.floor(_c(x) * (10 ** n)) / (10 ** n)) if n else F.floor(_c(x)),
    "ceil": lambda x, n=0: (F.ceil(_c(x) * (10 ** n)) / (10 ** n)) if n else F.ceil(_c(x)),
    # truncate toward zero; optional scale keeps s decimal digits
    # (FunctionsRound.h truncate) — BIGINT cast truncates toward zero
    "trunc": lambda x, s=None: (
        _c(x).cast("long") if s is None else
        (_c(x) * F.pow(F.lit(10.0), _c(s).cast("int"))).cast("bigint")
        / F.pow(F.lit(10.0), _c(s).cast("int"))),
    "roundToExp2": lambda x: F.when(_c(x) < 1, 0).otherwise(
        F.pow(F.lit(2.0), F.floor(F.log2(_c(x)))).cast("long")),
    # below the lowest bound the reference returns the bound itself
    # (src/Functions/roundDown.cpp); try_element_at also keeps the empty
    # filter result ANSI-safe
    "roundDown": lambda x, arr: F.coalesce(
        F.try_element_at(
            F.filter(F.array_sort(F.array(*[F.lit(v) for v in arr])),
                     lambda v: v <= _c(x)), F.lit(-1)),
        F.lit(min(arr))),
    "roundDuration": lambda x: _round_to_set(x, [1, 10, 30, 60, 120, 180, 240, 300,
                                                 600, 1200, 1800, 3600, 7200, 18000, 36000]),
    "roundAge": lambda x: _round_to_set(x, [1, 18, 25, 35, 45, 55]),
}


def _round_to_set(x, steps) -> Column:
    out = F.lit(0)
    for s in steps:
        out = F.when(_c(x) >= s, s).otherwise(out)
    return out


# ------------------------------------------------------------- conditionals
# Reference: src/Functions/if.cpp, multiIf.cpp, FunctionsLogical.cpp.

def _multi_if(*args) -> Column:
    if len(args) % 2 != 1:
        raise ValueError("multiIf needs cond,val pairs + else")
    out = F.when(_c(args[0]), _c(args[1]))
    i = 2
    while i + 1 < len(args):
        out = out.when(_c(args[i]), _c(args[i + 1]))
        i += 2
    return out.otherwise(_c(args[-1]))


_COND = {
    "if": lambda c, a, b: F.when(_c(c), _c(a)).otherwise(_c(b)),
    "multiIf": _multi_if,
    "coalesce": lambda *xs: F.coalesce(*[_c(x) for x in xs]),
    "ifNull": lambda a, b: F.coalesce(_c(a), _c(b)),
    "nullIf": lambda a, b: F.nullif(_c(a), _c(b)),
    "assumeNotNull": lambda x: _c(x),
    "isNull": lambda x: _c(x).isNull().cast("int"),
    "isNotNull": lambda x: _c(x).isNotNull().cast("int"),
    "greatest": lambda *xs: F.greatest(*[_c(x) for x in xs]),
    "least": lambda *xs: F.least(*[_c(x) for x in xs]),
}

# ----------------------------------------------------------- math/arithmetic
# Reference: FunctionBinaryArithmetic.h, FunctionMathUnary.h.

_MATH = {
    "plus": lambda a, b: _c(a) + _c(b),
    "minus": lambda a, b: _c(a) - _c(b),
    "multiply": lambda a, b: _c(a) * _c(b),
    # try_divide / try_mod instead of `/` and `%`: identical results in
    # non-ANSI sessions (both yield NULL on a zero divisor), but they stay
    # NULL instead of throwing when the session runs with
    # spark.sql.ansi.enabled=true (Spark 4 default) — entries must be
    # session-proof.
    # CH divide returns Float64 with ±inf on /0 and nan on 0/0
    # (FunctionBinaryArithmetic.h DivideFloatingImpl) — x*inf carries
    # the sign; the branch keeps ANSI sessions error-free
    "divide": lambda a, b: F.when(
        _c(b) == 0, _c(a).cast("double") * F.lit(float("inf"))
    ).otherwise(_c(a).cast("double") / _c(b)),
    # C++ integer division truncates toward zero (reference
    # src/Functions/DivisionUtils.h checkedDivision): intDiv(-7, 2) = -3,
    # not floor's -4.  a - a%b is exactly divisible (Spark % keeps the
    # dividend's sign, matching C++), so the quotient is the truncation.
    "intDiv": lambda a, b: F.try_divide(
        _c(a) - F.try_mod(_c(a), _c(b)), _c(b)).cast("long"),
    "intDivOrZero": lambda a, b: F.when(
        _c(b) != 0,
        F.try_divide(_c(a) - F.try_mod(_c(a), _c(b)), _c(b)).cast("long")
    ).otherwise(0),
    "modulo": lambda a, b: F.try_mod(_c(a), _c(b)),
    "moduloOrZero": lambda a, b: F.when(
        _c(b) != 0, F.try_mod(_c(a), _c(b))).otherwise(0),
    "positiveModulo": lambda a, b: F.when(_c(b) != 0, F.pmod(_c(a), _c(b))),
    # OrNull division variants (divide.cpp:70, intDiv.cpp:171,
    # moduloOrNull.cpp): NULL instead of inf/throw on a zero divisor
    "divideOrNull": lambda a, b: F.try_divide(_c(a).cast("double"), _c(b)),
    "intDivOrNull": lambda a, b: F.when(
        _c(b) != 0,
        F.try_divide(_c(a) - F.try_mod(_c(a), _c(b)), _c(b)).cast("long")),
    "moduloOrNull": lambda a, b: F.try_mod(_c(a), _c(b)),
    "positiveModuloOrNull": lambda a, b: F.when(
        _c(b) != 0, F.pmod(_c(a), _c(b))),
    "negate": lambda x: -_c(x),
    "abs": lambda x: F.abs(_c(x)),
    "sqrt": lambda x: F.sqrt(_c(x)),
    "cbrt": lambda x: F.cbrt(_c(x)),
    "exp": lambda x: F.exp(_c(x)),
    "log": lambda x: F.log(_c(x)),
    "ln": lambda x: F.log(_c(x)),
    "exp2": lambda x: F.pow(F.lit(2.0), _c(x)),
    "log2": lambda x: F.log2(_c(x)),
    "exp10": lambda x: F.pow(F.lit(10.0), _c(x)),
    "log10": lambda x: F.log10(_c(x)),
    "log1p": lambda x: F.log1p(_c(x)),
    "sin": lambda x: F.sin(_c(x)), "cos": lambda x: F.cos(_c(x)),
    "tan": lambda x: F.tan(_c(x)), "asin": lambda x: F.asin(_c(x)),
    "acos": lambda x: F.acos(_c(x)), "atan": lambda x: F.atan(_c(x)),
    "atan2": lambda y, x: F.atan2(_c(y), _c(x)),
    "sinh": lambda x: F.sinh(_c(x)), "cosh": lambda x: F.cosh(_c(x)),
    "tanh": lambda x: F.tanh(_c(x)),
    "pow": lambda a, b: F.pow(_c(a), _c(b)),
    "power": lambda a, b: F.pow(_c(a), _c(b)),
    "sign": lambda x: F.signum(_c(x)).cast("int"),
    "e": lambda: F.lit(2.718281828459045),
    "pi": lambda: F.lit(3.141592653589793),
    "degrees": lambda x: F.degrees(_c(x)),
    "radians": lambda x: F.radians(_c(x)),
    "isNaN": lambda x: F.isnan(_c(x)).cast("int"),
    "isFinite": lambda x: (~(F.isnan(_c(x)) | (F.abs(_c(x)) == float("inf")))).cast("int"),
    "isInfinite": lambda x: (F.abs(_c(x)) == float("inf")).cast("int"),
}


import math as _math  # noqa: E402


def _gcd_expr(a, b) -> Column:
    if not isinstance(a, Column) and not isinstance(b, Column):
        return F.lit(_math.gcd(int(a), int(b)))
    # column gcd: fixed-depth Euclid fold (_euclid_gcd, defined with the
    # math long-tail section below) — stays a Catalyst expression
    return _euclid_gcd(a, b)


_MATH["gcd"] = _gcd_expr

# -------------------------------------------------------------- arrays/maps
# Reference: src/Functions/array/ (84 files), map.cpp, tuple.cpp.

_ARR = {
    "array": lambda *xs: F.array(*[_c(x) for x in xs]),
    "arrayConcat": lambda *xs: F.concat(*[_c(x) for x in xs]),
    # try_element_at: out-of-range yields NULL in every session mode
    # (ANSI element_at throws; CH returns the type default — NULL is our
    # Nullable-column analog)
    "arrayElement": lambda a, i: F.try_element_at(
        _c(a), i if isinstance(i, Column) else F.lit(i)),
    "has": lambda a, v: F.array_contains(_c(a), v).cast("int"),
    "hasAny": lambda a, b: F.arrays_overlap(_c(a), _c(b)).cast("int"),
    "hasAll": lambda a, b: (F.size(F.array_except(_c(b), _c(a))) == 0).cast("int"),
    "indexOf": lambda a, v: F.array_position(_c(a), v).cast("long"),
    "countEqual": lambda a, v: F.size(F.filter(_c(a), lambda e: e == v)).cast("long"),
    "arrayEnumerate": lambda a: F.sequence(F.lit(1), F.size(_c(a))),
    "arrayUniq": lambda a: F.size(F.array_distinct(_c(a))).cast("long"),
    "arrayDistinct": lambda a: F.array_distinct(_c(a)),
    "arrayJoin": lambda a: F.explode(_c(a)),
    "arrayMap": lambda f, a: F.transform(_c(a), f),
    "arrayFilter": lambda f, a: F.filter(_c(a), f),
    "arrayExists": lambda f, a: F.exists(_c(a), f).cast("int"),
    "arrayAll": lambda f, a: F.forall(_c(a), f).cast("int"),
    "arrayFold": lambda f, a, init: F.aggregate(_c(a), _c(init), f),
    "arrayReduce": lambda agg, a: _array_reduce(agg, a),
    "arrayReduceInRanges": lambda agg, rng, a: _array_reduce_in_ranges(
        agg, rng, a),
    "arraySum": lambda a: F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double")),
    "arrayAvg": lambda a: (F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double"))
                           / F.size(_c(a))),
    "arrayMin": lambda a: F.array_min(_c(a)),
    "arrayMax": lambda a: F.array_max(_c(a)),
    "arraySort": lambda a: F.array_sort(_c(a)),
    "arrayReverseSort": lambda a: F.reverse(F.array_sort(_c(a))),
    "arrayReverse": lambda a: F.reverse(_c(a)),
    "arraySlice": lambda a, off, ln=None: (F.slice(_c(a), off, ln) if ln is not None
                                           else F.slice(_c(a), off, 1 << 30)),
    "arrayPushBack": lambda a, v: F.concat(_c(a), F.array(_c(v))),
    "arrayPushFront": lambda a, v: F.concat(F.array(_c(v)), _c(a)),
    "arrayPopBack": lambda a: F.slice(_c(a), 1, F.greatest(F.size(_c(a)) - 1, F.lit(0))),
    "arrayPopFront": lambda a: F.slice(_c(a), 2, F.greatest(F.size(_c(a)) - 1, F.lit(0))),
    "arrayFlatten": lambda a: F.flatten(_c(a)),
    "arrayZip": lambda *xs: F.arrays_zip(*[_c(x) for x in xs]),
    "arrayIntersect": lambda a, b: F.array_intersect(_c(a), _c(b)),
    "arrayCumSum": lambda a: _array_cum_sum(a),
    "arrayDifference": lambda a: F.zip_with(
        _c(a),
        F.concat(F.array(F.try_element_at(_c(a), F.lit(1))),
                 F.slice(_c(a), 1, F.greatest(F.size(_c(a)) - 1, F.lit(0)))),
        lambda x, p: x - p),  # pairs a[i] with a[i-1]; first yields 0
    "arrayCompact": lambda a: _array_compact(a),
    "arrayStringConcat": _STR["arrayStringConcat"],
    "emptyArrayToSingle": lambda a, v=0: F.when(F.size(_c(a)) == 0, F.array(F.lit(v))).otherwise(_c(a)),
    "range": lambda *xs: (F.sequence(F.lit(0), _c(xs[0]) - 1) if len(xs) == 1
                          else F.sequence(_c(xs[0]), _c(xs[1]) - 1)),
    "arrayDotProduct": lambda a, b: F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v),
    "arrayL2Distance": lambda a, b: F.sqrt(F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v.cast("double"))),
    # maps / tuples
    "map": lambda *xs: F.create_map(*[_c(x) for x in xs]),
    "mapKeys": lambda m: F.map_keys(_c(m)),
    "mapValues": lambda m: F.map_values(_c(m)),
    "mapContains": lambda m, k: F.map_contains_key(_c(m), k).cast("int"),
    "tuple": lambda *xs: F.struct(*[_c(x) for x in xs]),
    "tupleElement": lambda t, i: _c(t)[f"col{i}" if isinstance(i, int) else i],
}


def _array_reduce(agg_name, arr) -> Column:
    """arrayReduce('agg', arr) (reference
    src/Functions/array/arrayReduce.cpp): apply an aggregate-function
    NAME to array elements.  The name must be a Python string literal
    (the reference requires a constant too); the supported set covers
    the names users reach for on arrays."""
    a = _c(arr)
    name = str(agg_name).strip("'\"").lower()
    dsum = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    dispatch = {
        "sum": lambda: dsum,
        "min": lambda: F.array_min(a),
        "max": lambda: F.array_max(a),
        "count": lambda: F.size(a).cast("long"),
        "avg": lambda: dsum / F.size(a),
        "any": lambda: F.try_element_at(a, F.lit(1)),
        "anylast": lambda: F.try_element_at(a, F.lit(-1)),
        "uniqexact": lambda: F.size(F.array_distinct(a)).cast("long"),
        "uniq": lambda: F.size(F.array_distinct(a)).cast("long"),
        # median over the sorted array: lower-middle element (the
        # quantileExactLow rounding)
        "median": lambda: F.try_element_at(
            F.array_sort(a), ((F.size(a) + 1) / 2).cast("int")),
        "product": lambda: F.aggregate(
            a, F.lit(1.0), lambda acc, x: acc * x.cast("double")),
        "grouparray": lambda: a,
        "groupuniqarray": lambda: F.array_sort(F.array_distinct(a)),
    }
    if name not in dispatch:
        raise NotImplementedError(
            f"arrayReduce: aggregate {name!r} not mapped "
            f"(supported: {sorted(dispatch)})")
    return dispatch[name]()


def _array_reduce_in_ranges(agg_name, ranges, arr) -> Column:
    """arrayReduceInRanges('agg', [(start,len)...], arr)
    (src/Functions/array/arrayReduceInRanges.cpp): arrayReduce over
    each 1-based (start, length) slice; ranges is an array of 2-field
    structs or 2-element arrays."""
    a = _c(arr)
    return F.transform(
        _c(ranges),
        lambda r: _array_reduce(
            agg_name,
            F.slice(a, F.element_at(r, 1).cast("int"),
                    F.element_at(r, 2).cast("int"))))


def _array_cum_sum(a) -> Column:
    # running-sum via transform over indices (quadratic in array length;
    # fine for the short arrays this is used on — document)
    arr = _c(a)
    return F.transform(arr, lambda x, i: F.aggregate(
        F.slice(arr, 1, i + 1), F.lit(0.0), lambda acc, v: acc + v.cast("double")))


def _array_compact(a) -> Column:
    arr = _c(a)
    # try_element_at: boolean OR does not guarantee short-circuit, so the
    # i == 0 guard alone would still evaluate element_at(arr, 0)
    return F.filter(arr, lambda x, i: (i == 0) | (x != F.try_element_at(arr, i)))


# --------------------------------------------------------------------- JSON
# Reference: src/Functions/FunctionsJSON.cpp (simdjson-backed); Spark's
# get_json_object / from_json are the JVM equivalents.

_JSON = {
    "JSONExtractString": lambda x, *path: F.get_json_object(_c(x), _json_path(path)),
    "JSONExtractInt": lambda x, *path: F.get_json_object(_c(x), _json_path(path)).cast("long"),
    "JSONExtractFloat": lambda x, *path: F.get_json_object(_c(x), _json_path(path)).cast("double"),
    "JSONExtractBool": lambda x, *path: F.get_json_object(_c(x), _json_path(path)).cast("boolean"),
    "JSONExtractRaw": lambda x, *path: F.get_json_object(_c(x), _json_path(path)),
    "JSONHas": lambda x, *path: F.get_json_object(_c(x), _json_path(path)).isNotNull().cast("int"),
    "JSON_VALUE": lambda x, path: F.get_json_object(_c(x), path),
    "visitParamExtractString": lambda x, name: F.get_json_object(_c(x), f"$.{name}"),
    "isValidJSON": lambda x: F.get_json_object(_c(x), "$").isNotNull().cast("int"),
    "JSONLength": lambda x, *path: F.json_array_length(
        F.get_json_object(_c(x), _json_path(path)) if path else _c(x)),
}


def _json_path(path) -> str:
    out = "$"
    for p in path:
        out += f"[{p - 1}]" if isinstance(p, int) else f".{p}"
    return out


# --------------------------------------------------------------------- misc

_MISC = {
    "generateUUIDv4": lambda: F.uuid(),
    "rand": lambda: (F.rand() * (1 << 32)).cast("long"),
    "rand64": lambda: (F.rand() * float(1 << 62)).cast("long"),
    "randCanonical": lambda: F.rand(),
    "randNormal": lambda mean=0.0, sd=1.0: F.randn() * sd + mean,
    "randUniform": lambda lo, hi: F.rand() * (hi - lo) + lo,
    "zeroField": lambda: F.lit(0),
    "materialize": lambda x: _c(x),
    "identity": lambda x: _c(x),
    "ignore": lambda *xs: F.lit(0),
    "bitAnd": lambda a, b: _c(a).bitwiseAND(_c(b)),
    "bitOr": lambda a, b: _c(a).bitwiseOR(_c(b)),
    "bitXor": lambda a, b: _c(a).bitwiseXOR(_c(b)),
    "bitNot": lambda x: ~_c(x),
    "bitShiftLeft": lambda a, n: F.shiftleft(_c(a), n),
    "bitShiftRight": lambda a, n: F.shiftright(_c(a), n),
    "bitCount": lambda x: F.bit_count(_c(x)),
    "bitTest": lambda x, n: F.shiftright(_c(x), n).bitwiseAND(F.lit(1)),
    "byteSize": lambda x: F.length(_c(x).cast("binary")).cast("long"),
    "toTypeName": lambda x: F.typeof(_c(x)) if hasattr(F, "typeof") else F.lit("unknown"),
    "greatCircleDistance": lambda lon1, lat1, lon2, lat2: _great_circle(lon1, lat1, lon2, lat2),
    "geoDistance": lambda lon1, lat1, lon2, lat2: _great_circle(lon1, lat1, lon2, lat2),
    "geohashEncode": lambda lon, lat, precision=12: _geohash_encode(lon, lat, precision),
    "geohashDecode": lambda s: _geohash_decode(s),
    "geohashesInBox": lambda lon_min, lat_min, lon_max, lat_max, p=4:
        _geohashes_in_box(lon_min, lat_min, lon_max, lat_max, p),
    "pointInPolygon": lambda x, y, polygon: _point_in_polygon(x, y, polygon),
}

def _geohashes_in_box(lon_min, lat_min, lon_max, lat_max,
                      precision=4) -> Column:
    """geohashesInBox (reference src/Functions/geohashesInBox.cpp,
    GeoHash.h gridIndexes): all precision-p geohash cells intersecting
    the box — cell-index ranges from the closed-form grid, one
    flattened nested transform (no per-cell Python).  Degenerate or
    oversized requests (> 100k cells) yield an empty array (the
    reference throws)."""
    p = int(precision)
    total = 5 * p
    nlon, nlat = (total + 1) // 2, total // 2
    w = 360.0 / float(1 << nlon)
    h = 180.0 / float(1 << nlat)
    i0 = F.greatest(F.lit(0).cast("long"),
                    F.floor((_c(lon_min) + 180.0) / w).cast("long"))
    i1 = F.least(F.lit((1 << nlon) - 1).cast("long"),
                 (F.ceil((_c(lon_max) + 180.0) / w) - 1).cast("long"))
    j0 = F.greatest(F.lit(0).cast("long"),
                    F.floor((_c(lat_min) + 90.0) / h).cast("long"))
    j1 = F.least(F.lit((1 << nlat) - 1).cast("long"),
                 (F.ceil((_c(lat_max) + 90.0) / h) - 1).cast("long"))
    n_cells = (i1 - i0 + 1) * (j1 - j0 + 1)
    # clamp BOTH sequence bounds: with literal corners Catalyst
    # constant-folds the sequences regardless of the when() guard, so
    # an oversized request must never materialize the full grid
    i1c = F.least(i1, i0 + 99999)
    per_j = F.greatest(F.lit(1).cast("long"),
                       F.floor(100000 / (i1c - i0 + 1)).cast("long"))
    j1c = F.least(j1, j0 + per_j - 1)   # clamped grid <= 100k cells
    cells = F.flatten(F.transform(
        F.sequence(i0, i1c),
        lambda li: F.transform(
            F.sequence(j0, j1c),
            lambda lj: _geohash_encode(
                F.lit(-180.0) + (li.cast("double") + 0.5) * w,
                F.lit(-90.0) + (lj.cast("double") + 0.5) * h, p))))
    return F.when((i1 >= i0) & (j1 >= j0) & (n_cells <= 100000),
                  F.array_sort(cells)) \
            .otherwise(F.array().cast("array<string>"))


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_encode(lon, lat, precision=12) -> Column:
    """Base-32 geohash via the closed form: bit i of the interleaved
    stream is bit (n-1-i/2) of floor(frac * 2^n) — no interval
    refinement loop, everything stays in codegen-able integer ops
    (reference src/Functions/geohashEncode.cpp, GeoHash.h)."""
    p = int(precision)
    total = 5 * p
    nlon, nlat = (total + 1) // 2, total // 2
    lon_i = F.least(F.lit((1 << nlon) - 1), F.greatest(F.lit(0), F.floor(
        (_c(lon) + 180.0) / 360.0 * float(1 << nlon)).cast("long")))
    lat_i = F.least(F.lit((1 << nlat) - 1), F.greatest(F.lit(0), F.floor(
        (_c(lat) + 90.0) / 180.0 * float(1 << nlat)).cast("long")))
    alphabet = F.array(*[F.lit(c) for c in _GEOHASH32])
    chars = []
    for k in range(p):
        val = F.lit(0).cast("long")
        for i in range(5):
            j = 5 * k + i
            if j % 2 == 0:
                bit = F.shiftright(lon_i, nlon - 1 - j // 2).bitwiseAND(F.lit(1))
            else:
                bit = F.shiftright(lat_i, nlat - 1 - j // 2).bitwiseAND(F.lit(1))
            val = val + bit * F.lit(1 << (4 - i))
        chars.append(F.element_at(alphabet, val.cast("int") + 1))
    return F.concat(*chars)


def _geohash_decode(s, max_chars: int = 12) -> Column:
    """Inverse closed form: each base-32 char contributes static
    power-of-two fractions to the lon/lat binary expansions; returns the
    cell CENTER as struct(longitude, latitude) like the reference
    (src/Functions/geohashDecode.cpp).  Handles variable-length input up
    to ``max_chars`` via length guards."""
    s = _c(s)
    length = F.length(s)
    alphabet = F.array(*[F.lit(c) for c in _GEOHASH32])
    lon_frac, lat_frac = F.lit(0.0), F.lit(0.0)
    for k in range(max_chars):
        idx = F.when(length > k,
                     (F.array_position(alphabet, F.substring(s, k + 1, 1)) - 1)
                     .cast("int")).otherwise(F.lit(0))
        for i in range(5):
            j = 5 * k + i
            bit = F.shiftright(idx, 4 - i).bitwiseAND(F.lit(1)).cast("double")
            if j % 2 == 0:
                lon_frac = lon_frac + bit * F.lit(0.5 ** (j // 2 + 1))
            else:
                lat_frac = lat_frac + bit * F.lit(0.5 ** (j // 2 + 1))
    nlon = F.floor((length * 5 + 1) / 2).cast("double")
    nlat = F.floor(length * 5 / 2).cast("double")
    lon = F.lit(-180.0) + 360.0 * lon_frac + 360.0 * F.pow(F.lit(2.0), -nlon - 1)
    lat = F.lit(-90.0) + 180.0 * lat_frac + 180.0 * F.pow(F.lit(2.0), -nlat - 1)
    return F.struct(lon.alias("longitude"), lat.alias("latitude"))


def _point_in_polygon(x, y, polygon) -> Column:
    """Ray-casting point-in-polygon for a plan-time-literal polygon
    (list of (x, y) vertices), unrolled to built-in expressions; result
    is crossing-count parity as UInt8-like int (reference
    src/Functions/pointInPolygon.cpp).  Horizontal edges contribute no
    crossing and are skipped at plan time."""
    px, py = _c(x), _c(y)
    inside = F.lit(False)
    n = len(polygon)
    for i in range(n):
        x1, y1 = float(polygon[i][0]), float(polygon[i][1])
        x2, y2 = float(polygon[(i + 1) % n][0]), float(polygon[(i + 1) % n][1])
        if y1 == y2:
            continue
        crosses = (((F.lit(y1) > py) != (F.lit(y2) > py)) &
                   (px < F.lit(x2 - x1) * (py - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)))
        inside = F.when(crosses, ~inside).otherwise(inside)
    return inside.cast("int")


def _great_circle(lon1, lat1, lon2, lat2) -> Column:
    """Haversine great-circle distance in meters (reference
    src/Functions/greatCircleDistance.cpp)."""
    rlat1, rlat2 = F.radians(_c(lat1)), F.radians(_c(lat2))
    dlat = F.radians(_c(lat2) - _c(lat1)) / 2
    dlon = F.radians(_c(lon2) - _c(lon1)) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * 6371000.0) * F.asin(F.sqrt(a))


# ---------------------------------------------------- breadth: arrays (2)
# Reference: src/Functions/array/ — the long tail beyond the core set.
# All pure built-in/higher-order expressions; quadratic forms are only
# used where CH semantics require per-position lookback (short arrays).

def _arr_first_index(f, a) -> Column:
    idx = F.filter(F.transform(_c(a), lambda x, i: F.when(f(x), i + 1)
                               .otherwise(0)), lambda v: v > 0)
    return F.coalesce(F.try_element_at(idx, F.lit(1)), F.lit(0)).cast("long")


def _arr_last_index(f, a) -> Column:
    idx = F.filter(F.transform(_c(a), lambda x, i: F.when(f(x), i + 1)
                               .otherwise(0)), lambda v: v > 0)
    return F.coalesce(F.try_element_at(idx, F.lit(-1)), F.lit(0)).cast("long")


def _arr_cum_sum_non_negative(a) -> Column:
    # true left fold (clamping makes each step depend on the prior one)
    step = lambda acc, x: F.struct(
        F.concat(acc["r"], F.array(F.greatest(acc["s"] + x.cast("double"),
                                              F.lit(0.0)))).alias("r"),
        F.greatest(acc["s"] + x.cast("double"), F.lit(0.0)).alias("s"))
    init = F.struct(F.array().cast("array<double>").alias("r"),
                    F.lit(0.0).alias("s"))
    return F.aggregate(_c(a), init, step, lambda acc: acc["r"])


def _arr_rotate_left(a, n) -> Column:
    arr = _c(a)
    k = F.pmod(_c(n), F.greatest(F.size(arr), F.lit(1)))
    return F.concat(F.slice(arr, k + 1, F.size(arr) - k), F.slice(arr, 1, k))


_ARR2 = {
    "arrayCount": lambda f, a: F.size(F.filter(_c(a), f)).cast("long"),
    "arrayFirst": lambda f, a: F.try_element_at(F.filter(_c(a), f), F.lit(1)),
    "arrayLast": lambda f, a: F.try_element_at(F.filter(_c(a), f), F.lit(-1)),
    "arrayFirstOrNull": lambda f, a: F.try_element_at(
        F.filter(_c(a), f), F.lit(1)),
    "arrayLastOrNull": lambda f, a: F.try_element_at(
        F.filter(_c(a), f), F.lit(-1)),
    "arrayFirstIndex": _arr_first_index,
    "arrayLastIndex": _arr_last_index,
    # occurrence counter among equal preceding elements (arrayEnumerateUniq.cpp)
    "arrayEnumerateUniq": lambda a: F.transform(
        _c(a), lambda x, i: F.size(F.filter(F.slice(_c(a), 1, i + 1),
                                            lambda y: y == x))),
    # dense id = position of the value's first occurrence order
    "arrayEnumerateDense": lambda a: F.transform(
        _c(a), lambda x: F.array_position(F.array_distinct(_c(a)), x).cast("int")),
    "arrayProduct": lambda a: F.aggregate(
        _c(a), F.lit(1.0), lambda acc, x: acc * x.cast("double")),
    "arrayCumSumNonNegative": _arr_cum_sum_non_negative,
    "arrayResize": lambda a, n, fill=0: F.when(
        F.size(_c(a)) >= _c(n), F.slice(_c(a), 1, _c(n))).otherwise(
        F.concat(_c(a), F.array_repeat(F.lit(fill), _c(n) - F.size(_c(a))))),
    "arrayWithConstant": lambda n, v: F.array_repeat(_c(v), _c(n)),
    "arrayRotateLeft": _arr_rotate_left,
    "arrayRotateRight": lambda a, n: _arr_rotate_left(
        a, F.size(_c(a)) - F.pmod(_c(n), F.greatest(F.size(_c(a)), F.lit(1)))),
    "arrayShiftLeft": lambda a, n, fill=0: F.concat(
        F.slice(_c(a), _c(n) + 1, F.greatest(F.size(_c(a)) - _c(n), F.lit(0))),
        F.array_repeat(F.lit(fill), F.least(_c(n), F.size(_c(a))))),
    "arrayShiftRight": lambda a, n, fill=0: F.concat(
        F.array_repeat(F.lit(fill), F.least(_c(n), F.size(_c(a)))),
        F.slice(_c(a), 1, F.greatest(F.size(_c(a)) - _c(n), F.lit(0)))),
    "arrayJaccardIndex": lambda a, b: (
        F.size(F.array_intersect(_c(a), _c(b))).cast("double")
        / F.size(F.array_union(_c(a), _c(b)))),
    "arrayShingles": lambda a, n: F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(_c(a)) - _c(n) + 1, F.lit(0))),
        lambda i: F.slice(_c(a), i, _c(n))),
    "L1Distance": lambda a, b: F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: F.abs(x.cast("double") - y)),
        F.lit(0.0), lambda acc, v: acc + v),
    "L2Distance": lambda a, b: F.sqrt(F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v.cast("double"))),
    "LinfDistance": lambda a, b: F.array_max(
        F.zip_with(_c(a), _c(b), lambda x, y: F.abs(x.cast("double") - y))),
    "cosineDistance": lambda a, b: 1.0 - (
        F.aggregate(F.zip_with(_c(a), _c(b),
                    lambda x, y: x.cast("double") * y), F.lit(0.0),
                    lambda acc, v: acc + v)
        / (F.sqrt(F.aggregate(_c(a), F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x))
           * F.sqrt(F.aggregate(_c(b), F.lit(0.0),
                                lambda acc, x: acc + x.cast("double") * x)))),
}

# ------------------------------------------------------ breadth: maps (2)
# Reference: src/Functions/map.cpp, mapPopulateSeries.cpp. Missing-key
# lookups use try_element_at (ANSI-safe NULL instead of error).


def _map_add(m1, m2, op) -> Column:
    keys = F.array_union(F.map_keys(_c(m1)), F.map_keys(_c(m2)))
    return F.map_from_arrays(
        F.array_sort(keys),
        F.transform(F.array_sort(keys),
                    lambda k: op(F.coalesce(F.try_element_at(_c(m1), k), F.lit(0)),
                                 F.coalesce(F.try_element_at(_c(m2), k), F.lit(0)))))


_MAP2 = {
    "mapFromArrays": lambda k, v: F.map_from_arrays(_c(k), _c(v)),
    "mapConcat": lambda *ms: F.map_concat(*[_c(m) for m in ms]),
    "mapFilter": lambda f, m: F.map_filter(_c(m), f),
    "mapContainsKeyLike": lambda m, p: F.exists(
        F.map_keys(_c(m)), lambda k: k.like(p)).cast("int"),
    "mapExtractKeyLike": lambda m, p: F.map_filter(_c(m), lambda k, v: k.like(p)),
    "mapAdd": lambda m1, m2: _map_add(m1, m2, lambda a, b: a + b),
    "mapSubtract": lambda m1, m2: _map_add(m1, m2, lambda a, b: a - b),
    # values from m2 win on key conflicts (reference mapUpdate semantics)
    "mapUpdate": lambda m1, m2: F.map_concat(
        F.map_filter(_c(m1), lambda k, v: ~F.array_contains(F.map_keys(_c(m2)), k)),
        _c(m2)),
    "mapSort": lambda m: F.map_from_arrays(
        F.array_sort(F.map_keys(_c(m))),
        F.transform(F.array_sort(F.map_keys(_c(m))),
                    lambda k: F.try_element_at(_c(m), k))),
    # fill integer key gaps [min(keys) .. max(keys) | max_key] with 0
    "mapPopulateSeries": lambda m, max_key=None: F.map_from_arrays(
        F.sequence(F.array_min(F.map_keys(_c(m))),
                   _c(max_key) if max_key is not None
                   else F.array_max(F.map_keys(_c(m)))),
        F.transform(F.sequence(F.array_min(F.map_keys(_c(m))),
                               _c(max_key) if max_key is not None
                               else F.array_max(F.map_keys(_c(m)))),
                    lambda k: F.coalesce(F.try_element_at(_c(m), k), F.lit(0)))),
}

# -------------------------------------------------- breadth: datetime (2)
# Reference: DateTimeTransforms.h long tail + parseDateTimeBestEffort.


def _iso_thursday(x) -> Column:
    # the Thursday of x's ISO week decides its ISO year
    dow = ((F.dayofweek(_c(x)) + 5) % 7) + 1  # Mon=1..Sun=7
    return F.date_add(_c(x).cast("date"), (4 - dow).cast("int"))


_BEST_EFFORT_FMTS = ["dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy", "yyyyMMddHHmmss",
                     "yyyyMMdd", "dd.MM.yyyy", "MM/dd/yyyy HH:mm:ss",
                     "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd"]


def _parse_best_effort(x) -> Column:
    """parseDateTimeBestEffort (src/IO/parseDateTimeBestEffort.cpp):
    try ISO first, then the common unambiguous layouts."""
    c = _c(x)
    return F.coalesce(F.try_to_timestamp(c),
                      *[F.try_to_timestamp(c, F.lit(f))
                        for f in _BEST_EFFORT_FMTS])


_DT2 = {
    "toISOWeek": lambda x: F.weekofyear(_c(x)),
    "toWeek": lambda x, mode=3: F.weekofyear(_c(x)),  # mode 3 = ISO; others unsupported
    "toISOYear": lambda x: F.year(_iso_thursday(x)),
    "toYearWeek": lambda x: (F.year(_iso_thursday(x)) * 100
                             + F.weekofyear(_c(x))),
    "toTime": lambda x: F.timestamp_seconds(
        F.lit(86400) + F.pmod(F.unix_timestamp(_c(x)), F.lit(86400))),
    "toStartOfFiveMinutes": lambda x: F.timestamp_seconds(
        (F.unix_timestamp(_c(x)) / 300).cast("long") * 300),
    "toStartOfTenMinutes": lambda x: F.timestamp_seconds(
        (F.unix_timestamp(_c(x)) / 600).cast("long") * 600),
    "toStartOfSecond": lambda x: F.date_trunc("second", _c(x)),
    "toMillisecond": lambda x: F.date_format(_c(x), "SSS").cast("int"),
    "timeSlot": lambda x: F.timestamp_seconds(
        (F.unix_timestamp(_c(x)) / 1800).cast("long") * 1800),
    "monthName": lambda x: F.date_format(_c(x), "MMMM"),
    "toRelativeYearNum": lambda x: F.year(_c(x)).cast("long"),
    "toRelativeMonthNum": lambda x: (F.year(_c(x)) * 12 + F.month(_c(x))).cast("long"),
    "toRelativeDayNum": lambda x: F.datediff(_c(x), F.lit("1970-01-01")).cast("long"),
    "toRelativeHourNum": lambda x: (F.unix_timestamp(_c(x)) / 3600).cast("long"),
    "toRelativeMinuteNum": lambda x: (F.unix_timestamp(_c(x)) / 60).cast("long"),
    "toRelativeSecondNum": lambda x: F.unix_timestamp(_c(x)),
    # CH coerces Bool/float args to integers and returns the DEFAULT
    # date (1970-01-01) for any invalid/out-of-range combination
    # (makeDate.cpp; verified against 02243_make_date32.reference) —
    # NULL inputs stay NULL.  Date range [1970,2149], Date32
    # [1900,2299].
    "makeDate": lambda y, m, d=None: (
        _make_date_doy(y, m, 1970, 2149) if d is None
        else _make_date_impl(y, m, d, 1970, 2149)),
    "makeDate32": lambda y, m, d=None: (
        _make_date_doy(y, m, 1900, 2299) if d is None
        else _make_date_impl(y, m, d, 1900, 2299)),
    "makeDateTime": lambda y, mo, d, h, mi, s: F.make_timestamp(
        _c(y), _c(mo), _c(d), _c(h), _c(mi), _c(s)),
    "parseDateTimeBestEffort": _parse_best_effort,
    "parseDateTimeBestEffortOrNull": _parse_best_effort,
    "parseDateTime": lambda x, fmt: F.to_timestamp(_c(x), _mysql_fmt(fmt)),
    "parseDateTimeOrNull": lambda x, fmt: F.try_to_timestamp(
        _c(x), F.lit(_mysql_fmt(fmt))),
    "fromUnixTimestamp64Milli": lambda x: F.timestamp_millis(_c(x)),
    "fromUnixTimestamp64Micro": lambda x: F.timestamp_micros(_c(x)),
    "toUnixTimestamp64Milli": lambda x: F.unix_millis(_c(x)),
    "toUnixTimestamp64Micro": lambda x: F.unix_micros(_c(x)),
    "toModifiedJulianDay": lambda x: F.datediff(
        _c(x), F.lit("1858-11-17")).cast("long"),
    "fromModifiedJulianDay": lambda n: F.date_add(
        F.lit("1858-11-17").cast("date"), _c(n).cast("int")),
    "toDaysSinceYearZero": lambda x: (
        F.datediff(_c(x), F.lit("1970-01-01")) + 719528).cast("long"),
    "age": lambda unit, a, b: _date_diff(unit, a, b),
    "dateAdd": lambda unit, n, x: _date_add_unit(unit, n, x),
    "dateSub": lambda unit, n, x: _date_add_unit(unit, -n, x),
    "timestampAdd": lambda x, n, unit: _date_add_unit(unit, n, x),
}


# ------------------------------------------- datetime long-tail (round 4)
# Reference: src/Functions/now64.cpp, makeDate.cpp (makeDateTime64),
# parseDateTime.cpp (*InJodaSyntax — Joda tokens are what Spark's
# DateTimeFormatter already speaks), fromDaysSinceYearZero.cpp,
# timeDiff -> dateDiff('second') alias, UTCTimestamp.cpp
# (to/fromUTCTimestamp), formatDateTime.cpp (*InJodaSyntax).

_EPOCH_TS = "1970-01-01 00:00:00"


def _parse_joda_or_zero(x, fmt):
    return F.coalesce(F.try_to_timestamp(_c(x), F.lit(fmt)),
                      F.lit(_EPOCH_TS).cast("timestamp"))


_DT3 = {
    # Spark timestamps are fixed µs precision; the precision argument is
    # accepted for surface parity and ignored (documented LIMITS.md
    # class: cosmetic precision)
    "now64": lambda p=3, tz=None: F.current_timestamp(),
    "makeDateTime64": lambda y, mo, d, h, mi, s, *rest: F.make_timestamp(
        _c(y), _c(mo), _c(d), _c(h), _c(mi), _c(s)),
    # timeDiff(t1, t2) = t2 - t1 in seconds (registerAlias of
    # dateDiff('second'))
    "timeDiff": lambda a, b: (
        F.unix_timestamp(_c(b)) - F.unix_timestamp(_c(a))).cast("long"),
    "addDate": lambda d, iv: _c(d) + _c(iv),
    "subDate": lambda d, iv: _c(d) - _c(iv),
    "toUTCTimestamp": lambda ts, tz: F.to_utc_timestamp(_c(ts), _c(tz)),
    "fromUTCTimestamp": lambda ts, tz: F.from_utc_timestamp(_c(ts), _c(tz)),
    "parseDateTimeInJodaSyntax": lambda x, fmt, tz=None: F.to_timestamp(
        _c(x), fmt),
    "parseDateTimeInJodaSyntaxOrNull": lambda x, fmt, tz=None:
        F.try_to_timestamp(_c(x), F.lit(fmt)),
    "parseDateTimeInJodaSyntaxOrZero": lambda x, fmt, tz=None:
        _parse_joda_or_zero(x, fmt),
    "parseDateTimeOrZero": lambda x, fmt: F.coalesce(
        F.try_to_timestamp(_c(x), F.lit(_mysql_fmt(fmt))),
        F.lit(_EPOCH_TS).cast("timestamp")),
    "formatDateTimeInJodaSyntax": lambda x, fmt, tz=None: F.date_format(
        _c(x), fmt),
    "fromUnixTimestampInJodaSyntax": lambda x, fmt, tz=None: F.date_format(
        F.timestamp_seconds(_c(x)), fmt),
    # inverse of toDaysSinceYearZero (0000-01-01 proleptic epoch shift
    # 719528 = days 0000-01-01 .. 1970-01-01)
    "fromDaysSinceYearZero": lambda n: F.date_add(
        F.lit("1970-01-01").cast("date"), (_c(n) - 719528).cast("int")),
    "fromDaysSinceYearZero32": lambda n: F.date_add(
        F.lit("1970-01-01").cast("date"), (_c(n) - 719528).cast("int")),
    "toModifiedJulianDayOrNull": lambda x: F.when(
        F.try_to_timestamp(_c(x).cast("string")).isNotNull()
        | _c(x).cast("string").rlike(r"^\d{4}-\d{2}-\d{2}$"),
        F.datediff(_c(x).cast("date"), F.lit("1858-11-17"))).cast("long"),
    "fromModifiedJulianDayOrNull": lambda n: F.date_add(
        F.lit("1858-11-17").cast("date"),
        _c(n).try_cast("int")),
    "toMillisecond": lambda x: F.floor(
        F.pmod(F.unix_micros(_c(x).cast("timestamp")), 1000000) / 1000
    ).cast("int"),
    # YYYYMMDDhhmmssToDateTime(n) (src/Functions/
    # fromDaysSinceYearZero.cpp sibling family): digit-decomposed parse
    "YYYYMMDDhhmmssToDateTime": lambda n: F.to_timestamp(
        F.lpad(_c(n).cast("decimal(20,0)").cast("string"), 14, "0"),
        "yyyyMMddHHmmss"),
    "YYYYMMDDhhmmssToDateTime64": lambda n, p=3: F.to_timestamp(
        F.lpad(_c(n).cast("decimal(20,0)").cast("string"), 14, "0"),
        "yyyyMMddHHmmss"),
    "YYYYMMDDToDate": lambda n: F.to_date(
        F.lpad(_c(n).cast("long").cast("string"), 8, "0"), "yyyyMMdd"),
    "YYYYMMDDToDate32": lambda n: F.to_date(
        F.lpad(_c(n).cast("long").cast("string"), 8, "0"), "yyyyMMdd"),
}


def _date_add_unit(unit: str, n, x) -> Column:
    unit = unit.lower()
    if unit in ("year", "yy", "yyyy"):
        return F.add_months(_c(x), 12 * n)
    if unit in ("quarter", "qq"):
        return F.add_months(_c(x), 3 * n)
    if unit in ("month", "mm"):
        return F.add_months(_c(x), n)
    if unit in ("week", "wk"):
        return F.date_add(_c(x), 7 * n)
    if unit in ("day", "dd"):
        return F.date_add(_c(x), n)
    if unit in ("hour", "hh"):
        return F.timestamp_seconds(F.unix_timestamp(_c(x)) + 3600 * n)
    if unit in ("minute", "mi"):
        return F.timestamp_seconds(F.unix_timestamp(_c(x)) + 60 * n)
    if unit in ("second", "ss"):
        return F.timestamp_seconds(F.unix_timestamp(_c(x)) + n)
    raise ValueError(f"unsupported dateAdd unit {unit}")


# ------------------------------------------- breadth: readable formatting
# Reference: src/Functions/formatReadable.h — humanized sizes/quantities.


def _readable(x, base: float, units: list[str]) -> Column:
    v = _c(x).cast("double")
    out = F.format_string(f"%.2f {units[0]}", v)
    scale = 1.0
    for u in units[1:]:
        scale *= base
        out = F.when(F.abs(v) >= scale,
                     F.format_string(f"%.2f {u}", v / scale)).otherwise(out)
    return out


_READABLE = {
    "formatReadableSize": lambda x: _readable(
        x, 1024.0, ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]),
    "formatReadableDecimalSize": lambda x: _readable(
        x, 1000.0, ["B", "KB", "MB", "GB", "TB", "PB", "EB"]),
    "formatReadableQuantity": lambda x: _readable(
        x, 1000.0, ["", "thousand", "million", "billion", "trillion",
                    "quadrillion"]),
}

# --------------------------------------------- breadth: strings/search (2)
# Reference: FunctionsStringSearch.h multiSearch*, FunctionsStringSimilarity.


def _multi_positions(h, needles) -> Column:
    return F.array(*[F.instr(_c(h), n).cast("long") for n in needles])


_STR2 = {
    "substringIndex": lambda x, d, n: F.substring_index(_c(x), d, n),
    # Spark strings are unicode — the UTF8 variants coincide
    "substringIndexUTF8": lambda x, d, n: F.substring_index(_c(x), d, n),
    # overlay(s, replace, offset[, length]) (reference
    # src/Functions/overlay.cpp) — Spark's overlay is the same contract
    "overlay": lambda s, r, o, ln=None: (
        F.overlay(_c(s), _c(r) if isinstance(r, Column) else F.lit(r),
                  _c(o) if isinstance(o, Column) else F.lit(o))
        if ln is None else
        F.overlay(_c(s), _c(r) if isinstance(r, Column) else F.lit(r),
                  _c(o) if isinstance(o, Column) else F.lit(o),
                  _c(ln) if isinstance(ln, Column) else F.lit(ln))),
    "translate": lambda x, frm, to: F.translate(_c(x), frm, to),
    "countMatches": lambda x, rx: F.size(
        F.regexp_extract_all(_c(x), F.lit(rx), F.lit(0))).cast("long"),
    "ngrams": lambda x, n: F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(_c(x)) - n + 1, F.lit(0))),
        lambda i: F.substring(_c(x), i, F.lit(n))),
    "byteHammingDistance": lambda a, b: (
        F.size(F.filter(F.zip_with(F.split(_c(a), ""), F.split(_c(b), ""),
                                   lambda x, y: x != y),
                        lambda v: v)).cast("long")),
    "multiSearchAllPositions": _multi_positions,
    "multiSearchFirstPosition": lambda h, needles: F.coalesce(
        F.array_min(F.filter(_multi_positions(h, needles), lambda p: p > 0)),
        F.lit(0)),
    "multiSearchFirstIndex": lambda h, needles: F.coalesce(
        F.array_position(
            _multi_positions(h, needles),
            F.array_min(F.filter(_multi_positions(h, needles),
                                 lambda p: p > 0))),
        F.lit(0)).cast("long"),
    "hasToken": lambda h, tok: _c(h).rlike(
        r"(?<![A-Za-z0-9_])" + _regex_escape(tok) + r"(?![A-Za-z0-9_])"
    ).cast("int"),
    "hasTokenOrNull": lambda h, tok: _c(h).rlike(
        r"(?<![A-Za-z0-9_])" + _regex_escape(tok) + r"(?![A-Za-z0-9_])"
    ).cast("int"),
    "positionUTF8": lambda h, n: F.instr(_c(h), n).cast("long"),
    "substringUTF8": lambda x, pos, ln=8192: F.substring(_c(x), pos, ln),
    "isValidUTF8": (lambda x: F.is_valid_utf8(_c(x)).cast("int"))
    if hasattr(F, "is_valid_utf8") else (lambda x: F.lit(1)),
}

# -------------------------------------------------- breadth: bit ops (2)


_BIT2 = {
    "bitRotateLeft": lambda x, n: F.shiftleft(_c(x).cast("long"), n)
    .bitwiseOR(F.shiftrightunsigned(_c(x).cast("long"), 64 - n)),
    "bitRotateRight": lambda x, n: F.shiftrightunsigned(_c(x).cast("long"), n)
    .bitwiseOR(F.shiftleft(_c(x).cast("long"), 64 - n)),
    "bitTestAll": lambda x, *bits: F.lit(True).cast("boolean") if not bits else
    _bit_test_fold(x, bits, all_of=True),
    "bitTestAny": lambda x, *bits: _bit_test_fold(x, bits, all_of=False),
    "bitHammingDistance": lambda a, b: F.bit_count(
        _c(a).bitwiseXOR(_c(b))).cast("int"),
}


def _bit_test_fold(x, bits, all_of: bool) -> Column:
    tests = [F.shiftright(_c(x), int(b)).bitwiseAND(F.lit(1)) == 1 for b in bits]
    out = tests[0]
    for t in tests[1:]:
        out = (out & t) if all_of else (out | t)
    return out.cast("int")


# ------------------------------------- breadth: type conversion / logical
# Reference: FunctionsConversion.h OrZero/OrNull variants; CH type names.

_CH_TYPE_TO_SPARK = {
    "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT", "int64": "BIGINT",
    "uint8": "SMALLINT", "uint16": "INT", "uint32": "BIGINT",
    "uint64": "DECIMAL(20,0)", "float32": "FLOAT", "float64": "DOUBLE",
    "string": "STRING", "date": "DATE", "datetime": "TIMESTAMP",
    "bool": "BOOLEAN",
}


def _accurate_cast(x, ch_type: str) -> Column:
    t = _CH_TYPE_TO_SPARK.get(ch_type.lower().strip())
    if t is None:
        raise ValueError(f"accurateCast: unmapped CH type {ch_type!r}")
    return _c(x).cast(t)


_CONV2 = {
    "toInt8OrZero": lambda x: F.coalesce(_c(x).try_cast("tinyint"), F.lit(0)),
    "toInt16OrZero": lambda x: F.coalesce(_c(x).try_cast("smallint"), F.lit(0)),
    "toInt32OrZero": lambda x: F.coalesce(_c(x).try_cast("int"), F.lit(0)),
    "toInt64OrZero": lambda x: F.coalesce(_c(x).try_cast("bigint"), F.lit(0)),
    "toFloat64OrZero": lambda x: F.coalesce(_c(x).try_cast("double"), F.lit(0.0)),
    "toFloat32OrZero": lambda x: F.coalesce(_c(x).try_cast("float"), F.lit(0.0)),
    "toDate32": lambda x: F.to_date(_c(x)),
    "toDateTime64": lambda x, scale=3: F.to_timestamp(_c(x)),
    "toDecimal32": lambda x, s: _c(x).cast(f"decimal(9,{int(s)})"),
    "toDecimal64": lambda x, s: _c(x).cast(f"decimal(18,{int(s)})"),
    "toDecimal128": lambda x, s: _c(x).cast(f"decimal(38,{int(s)})"),
    # OrZero/OrNull/OrDefault decimal forms (FunctionsConversion.h);
    # Decimal256 exceeds Spark's 38-digit ceiling — documented out.
    "toDecimal32OrZero": lambda x, s: F.coalesce(
        _c(x).try_cast(f"decimal(9,{int(s)})"),
        F.lit(0).cast(f"decimal(9,{int(s)})")),
    "toDecimal64OrZero": lambda x, s: F.coalesce(
        _c(x).try_cast(f"decimal(18,{int(s)})"),
        F.lit(0).cast(f"decimal(18,{int(s)})")),
    "toDecimal128OrZero": lambda x, s: F.coalesce(
        _c(x).try_cast(f"decimal(38,{int(s)})"),
        F.lit(0).cast(f"decimal(38,{int(s)})")),
    "toDecimal32OrNull": lambda x, s: _c(x).try_cast(f"decimal(9,{int(s)})"),
    "toDecimal64OrNull": lambda x, s: _c(x).try_cast(f"decimal(18,{int(s)})"),
    "toDecimal128OrNull": lambda x, s: _c(x).try_cast(
        f"decimal(38,{int(s)})"),
    "toDecimal32OrDefault": lambda x, s, d=0: F.coalesce(
        _c(x).try_cast(f"decimal(9,{int(s)})"),
        F.lit(d).cast(f"decimal(9,{int(s)})")),
    "toDecimal64OrDefault": lambda x, s, d=0: F.coalesce(
        _c(x).try_cast(f"decimal(18,{int(s)})"),
        F.lit(d).cast(f"decimal(18,{int(s)})")),
    "toDecimal128OrDefault": lambda x, s, d=0: F.coalesce(
        _c(x).try_cast(f"decimal(38,{int(s)})"),
        F.lit(d).cast(f"decimal(38,{int(s)})")),
    "accurateCast": _accurate_cast,
    "accurateCastOrNull": lambda x, t: _c(x).try_cast(
        _CH_TYPE_TO_SPARK.get(t.lower().strip(), t)),
    "fromUnixTimestamp64Second": lambda x: F.timestamp_seconds(_c(x)),
    # integer div: double division loses µs precision at epoch-nanos scale
    "fromUnixTimestamp64Nano": lambda x: F.timestamp_micros(
        F.call_function("div", _c(x), F.lit(1000))),
    "toUnixTimestamp64Second": lambda x: F.unix_seconds(_c(x)),
    # µs is Spark timestamp precision: nanos are zero-padded
    "toUnixTimestamp64Nano": lambda x: F.unix_micros(_c(x)) * 1000,
    "toNullable": lambda x: _c(x),
    "equals": lambda a, b: (_c(a) == _c(b)).cast("int"),
    "notEquals": lambda a, b: (_c(a) != _c(b)).cast("int"),
    "less": lambda a, b: (_c(a) < _c(b)).cast("int"),
    "greater": lambda a, b: (_c(a) > _c(b)).cast("int"),
    "lessOrEquals": lambda a, b: (_c(a) <= _c(b)).cast("int"),
    "greaterOrEquals": lambda a, b: (_c(a) >= _c(b)).cast("int"),
    "and": lambda *xs: _logical_fold(xs, lambda a, b: a & b),
    "or": lambda *xs: _logical_fold(xs, lambda a, b: a | b),
    "not": lambda x: (~(_c(x).cast("boolean"))).cast("int"),
    "xor": lambda a, b: (_c(a).cast("boolean") != _c(b).cast("boolean")).cast("int"),
}


def _logical_fold(xs, op) -> Column:
    out = _c(xs[0]).cast("boolean")
    for x in xs[1:]:
        out = op(out, _c(x).cast("boolean"))
    return out.cast("int")


# ---------------------------------------------------- breadth: misc (2)


def _bar(x, lo, hi, width=80) -> Column:
    """bar() (src/Functions/bar.cpp) with whole-block resolution (the
    reference renders eighth-blocks; documented simplification)."""
    frac = (_c(x).cast("double") - lo) / (hi - lo)
    n = F.greatest(F.least(F.round(frac * width).cast("int"), F.lit(int(width))),
                   F.lit(0))
    return F.repeat(F.lit("█"), n)


def _transform_lookup(x, frm, to, default=None) -> Column:
    """transform(x, [from...], [to...], default)
    (src/Functions/transform.cpp): positional value translation."""
    idx = F.array_position(F.array(*[F.lit(v) for v in frm]), _c(x))
    # greatest(idx, 1): index 0 (no match) must never reach element_at —
    # CASE WHEN does not guarantee the untaken branch goes unevaluated
    # under whole-stage codegen, and index 0 errors in every mode
    hit = F.try_element_at(F.array(*[F.lit(v) for v in to]),
                           F.greatest(idx, F.lit(1)).cast("int"))
    return F.when(idx > 0, hit).otherwise(
        _c(default) if default is not None else _c(x))


_MISC2 = {
    "bar": _bar,
    "transform": _transform_lookup,
    "isZeroOrNull": lambda x: (_c(x).isNull() | (_c(x) == 0)).cast("int"),
    "ifNotFinite": lambda x, alt: F.when(
        F.isnan(_c(x)) | (F.abs(_c(x)) == float("inf")), _c(alt)).otherwise(_c(x)),
    "nanToNull": lambda x: F.when(F.isnan(_c(x)), F.lit(None)).otherwise(_c(x)),
}


# ------------------------------------------------- breadth: vector math
# Reference: src/Functions/array/arrayDistance.cpp (L1/L2/Linf/Lp
# distances and norms over arrays), src/Functions/array/arrayAUC.cpp.


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(_c(a), _c(b),
                                  lambda x, y: x.cast("double") * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _lp_norm(a, p) -> Column:
    # the reference rejects p < 1 and non-constant p
    # (src/Functions/vectorFunctions.cpp LpNorm checks)
    if isinstance(p, Column):
        raise ValueError("LpNorm: p must be a constant")
    if float(p) < 1:
        raise ValueError("LpNorm: p must be >= 1")
    pw = F.lit(p).cast("double") if not isinstance(p, Column) else p
    return F.pow(F.aggregate(_c(a), F.lit(0.0),
                             lambda acc, x: acc + F.pow(F.abs(x.cast("double")), pw)),
                 1.0 / pw)


def _l2_norm(a) -> Column:
    return F.sqrt(F.aggregate(_c(a), F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x))


def _array_roc_auc(scores, labels) -> Column:
    """arrayROCAUC(scores, labels) (src/Functions/array/arrayAUC.cpp:131):
    trapezoid area under the ROC curve == Mann-Whitney rank statistic
    with average ranks on tied scores: (R+ - P(P+1)/2) / (P*N)."""
    s, lab = _c(scores), _c(labels)
    pos = F.size(F.filter(lab, lambda x: x > 0)).cast("double")
    neg = F.size(lab).cast("double") - pos
    ranks = F.transform(s, lambda x: (
        F.size(F.filter(s, lambda y: y < x))
        + F.size(F.filter(s, lambda y: y <= x)) + 1).cast("double") / 2.0)
    pos_rank_sum = F.aggregate(
        F.zip_with(ranks, lab,
                   lambda r, m: F.when(m > 0, r).otherwise(F.lit(0.0))),
        F.lit(0.0), lambda acc, v: acc + v)
    return F.when((pos > 0) & (neg > 0),
                  (pos_rank_sum - pos * (pos + 1) / 2.0) / (pos * neg))


_VEC = {
    "dotProduct": _dot,
    "scalarProduct": _dot,
    "L2SquaredDistance": lambda a, b: F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v.cast("double")),
    "LpDistance": lambda a, b, p: _lp_norm(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") - y), p),
    "L1Norm": lambda a: F.aggregate(
        _c(a), F.lit(0.0), lambda acc, x: acc + F.abs(x.cast("double"))),
    "L2Norm": _l2_norm,
    "L2SquaredNorm": lambda a: F.aggregate(
        _c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x),
    "LinfNorm": lambda a: F.array_max(
        F.transform(_c(a), lambda x: F.abs(x.cast("double")))),
    "LpNorm": lambda a, p: _lp_norm(a, p),
    "L1Normalize": lambda a: F.transform(
        _c(a), lambda x: x.cast("double") / F.aggregate(
            _c(a), F.lit(0.0), lambda acc, y: acc + F.abs(y.cast("double")))),
    "L2Normalize": lambda a: F.transform(
        _c(a), lambda x: x.cast("double") / _l2_norm(a)),
    "arrayROCAUC": _array_roc_auc,
    "arrayAUC": _array_roc_auc,    # pre-rename alias (arrayAUC.cpp:531)
}


def _array_pr_auc(scores, labels) -> Column:
    """arrayAUCPR / arrayPRAUC (src/Functions/array/arrayAUC.cpp:131,
    is_pr branch): right-Riemann sum over the sorted-by-score-desc
    walk — area += TP_n/(TP_n+FP_n) · (TP_n − TP_{n−1}) at every
    threshold change, scaled by total positives; empty input or no
    positive labels → 0.0 (the reference's degenerate contract)."""
    s, lab = _c(scores), _c(labels)
    pairs = F.array_sort(F.zip_with(s, lab, lambda x, y: F.struct(
        (-x.cast("double")).alias("ns"),
        F.when(y > 0, 1).otherwise(0).cast("long").alias("l"))))
    init = F.struct(
        F.lit(None).cast("double").alias("thr"),
        F.lit(0).cast("long").alias("ptp"),
        F.lit(0).cast("long").alias("tp"),
        F.lit(0).cast("long").alias("fp"),
        F.lit(0.0).alias("area"))

    def step(acc, e):
        changed = acc["thr"].isNotNull() & (e["ns"] != acc["thr"])
        area2 = F.when(
            changed,
            acc["area"] + acc["tp"].cast("double")
            / (acc["tp"] + acc["fp"]) * (acc["tp"] - acc["ptp"])
        ).otherwise(acc["area"])
        ptp2 = F.when(changed, acc["tp"]).otherwise(acc["ptp"])
        return F.struct(
            e["ns"].alias("thr"), ptp2.alias("ptp"),
            (acc["tp"] + e["l"]).alias("tp"),
            (acc["fp"] + 1 - e["l"]).alias("fp"),
            area2.alias("area"))

    def finish(st):
        flush = F.when(
            st["tp"] + st["fp"] > 0,
            st["tp"].cast("double") / (st["tp"] + st["fp"])
            * (st["tp"] - st["ptp"])).otherwise(F.lit(0.0))
        total = st["area"] + flush
        return F.when(st["tp"] == 0, F.lit(0.0)) \
            .otherwise(total / st["tp"])

    return F.aggregate(pairs, init, step, finish)


def _array_pr_auc_opt(scores, labels, offsets=None) -> Column:
    """3-arg form carries partial-AUC offsets; the all-zero offsets
    the tests pass mean 'full curve' — identical to the 2-arg form
    (arrayAUC.cpp offsets contract)."""
    return _array_pr_auc(scores, labels)


_VEC["arrayAUCPR"] = _array_pr_auc_opt
_VEC["arrayPRAUC"] = _array_pr_auc_opt


# ------------------------------------- tuple/vector arithmetic family
# Reference: src/Functions/vectorFunctions.cpp registerVectorFunctions
# (tuplePlus..tupleIntDivOrZeroByNumber, vectorSum/vectorDifference
# aliases, L*Normalize).  CH operates on Tuples; the carrier here is
# array<numeric>, consistent with the _VEC norm/distance family above.


def _tuple_divide_elem(x: Column, y: Column) -> Column:
    # CH divide semantics per element (Float64, /0 -> signed inf)
    return F.when(y == 0, x.cast("double") * F.lit(float("inf"))) \
            .otherwise(x.cast("double") / y)


def _tuple_intdiv_elem(x: Column, y: Column) -> Column:
    return F.try_divide(x - F.try_mod(x, y), y).cast("long")


_VEC2 = {
    "tuplePlus": lambda a, b: F.zip_with(_c(a), _c(b), lambda x, y: x + y),
    "tupleMinus": lambda a, b: F.zip_with(_c(a), _c(b), lambda x, y: x - y),
    "tupleMultiply": lambda a, b: F.zip_with(_c(a), _c(b),
                                             lambda x, y: x * y),
    "tupleDivide": lambda a, b: F.zip_with(_c(a), _c(b), _tuple_divide_elem),
    "tupleModulo": lambda a, b: F.zip_with(_c(a), _c(b),
                                           lambda x, y: F.try_mod(x, y)),
    "tupleIntDiv": lambda a, b: F.zip_with(_c(a), _c(b), _tuple_intdiv_elem),
    "tupleIntDivOrZero": lambda a, b: F.zip_with(
        _c(a), _c(b),
        lambda x, y: F.coalesce(_tuple_intdiv_elem(x, y), F.lit(0))),
    "tupleNegate": lambda a: F.transform(_c(a), lambda x: -x),
    "tupleMultiplyByNumber": lambda a, n: F.transform(
        _c(a), lambda x: x * _c(n)),
    "tupleDivideByNumber": lambda a, n: F.transform(
        _c(a), lambda x: _tuple_divide_elem(x, _c(n))),
    "tupleModuloByNumber": lambda a, n: F.transform(
        _c(a), lambda x: F.try_mod(x, _c(n))),
    "tupleIntDivByNumber": lambda a, n: F.transform(
        _c(a), lambda x: _tuple_intdiv_elem(x, _c(n))),
    "tupleIntDivOrZeroByNumber": lambda a, n: F.transform(
        _c(a), lambda x: F.coalesce(_tuple_intdiv_elem(x, _c(n)), F.lit(0))),
    "LinfNormalize": lambda a: F.transform(
        _c(a), lambda x: x.cast("double") / F.array_max(
            F.transform(_c(a), lambda y: F.abs(y.cast("double"))))),
    "LpNormalize": lambda a, p: F.transform(
        _c(a), lambda x: x.cast("double") / _lp_norm(a, p)),
}


# ------------------------------------------- exact mod-2^64 integer hashes
# Reference: src/Functions/FunctionsHashing.h IntHash32Impl / IntHash64Impl
# over src/Common/HashTable/Hash.h intHash32/intHash64 (the MurmurHash3
# finalizer).  Long arithmetic would overflow (ANSI throws), so the ALU
# below is bitwise-only: adds via 32-bit halves, constant multiplies via
# 16-bit limb partial products, recomposed with shifts+OR — every step a
# Catalyst expression, exact mod 2^64 under any session.

_L32 = 0xFFFFFFFF


def _u64_add(a: Column, b: Column) -> Column:
    m32 = F.lit(_L32).cast("long")
    sl = a.bitwiseAND(m32) + b.bitwiseAND(m32)
    sh = (F.shiftrightunsigned(a, 32) + F.shiftrightunsigned(b, 32)
          + F.shiftrightunsigned(sl, 32))
    return F.shiftleft(sh.bitwiseAND(m32), 32).bitwiseOR(sl.bitwiseAND(m32))


def _u64_mul_const(x: Column, c: int) -> Column:
    m16 = F.lit(0xFFFF).cast("long")
    xs = [F.shiftrightunsigned(x, s).bitwiseAND(m16) for s in (0, 16, 32, 48)]
    cs = [(c >> s) & 0xFFFF for s in (0, 16, 32, 48)]
    p0 = xs[0] * cs[0]
    p1 = xs[0] * cs[1] + xs[1] * cs[0] + F.shiftright(p0, 16)
    p2 = xs[0] * cs[2] + xs[1] * cs[1] + xs[2] * cs[0] + F.shiftright(p1, 16)
    p3 = (xs[0] * cs[3] + xs[1] * cs[2] + xs[2] * cs[1] + xs[3] * cs[0]
          + F.shiftright(p2, 16))
    return (p0.bitwiseAND(m16)
            .bitwiseOR(F.shiftleft(p1.bitwiseAND(m16), 16))
            .bitwiseOR(F.shiftleft(p2.bitwiseAND(m16), 32))
            .bitwiseOR(F.shiftleft(p3.bitwiseAND(m16), 48)))


def _u64_rotr(x: Column, n: int) -> Column:
    return F.shiftrightunsigned(x, n).bitwiseOR(F.shiftleft(x, 64 - n))


def _int_hash64(x) -> Column:
    """intHash64: murmur3 finalizer over key ^ 0x4CF2D2BAAE6DA887.

    The step chain runs as an F.aggregate fold with when()-dispatch so
    the accumulator stays a LEAF of each step expression — chaining the
    steps directly would duplicate the whole prior subtree at every
    reference and blow the Catalyst tree up exponentially (measured:
    ~70 s analysis+codegen for the naive form, <1 s for the fold)."""
    k0 = _c(x).cast("long").bitwiseXOR(F.lit(0x4CF2D2BAAE6DA887).cast("long"))

    def step(k, i):
        return (F.when((i == 2), _u64_mul_const(k, 0xFF51AFD7ED558CCD))
                .when((i == 4), _u64_mul_const(k, 0xC4CEB9FE1A85EC53))
                .otherwise(k.bitwiseXOR(F.shiftrightunsigned(k, 33))))

    return F.aggregate(F.sequence(F.lit(1), F.lit(5)), k0, step)


def _int_hash32(x) -> Column:
    """intHash32: Hash.h bit-mix over key ^ 0x75D9543DE018BF45, low 32
    bits kept (multiply-by-21 expanded to shift-adds).  Fold-dispatched
    for the same linear-tree reason as _int_hash64."""
    k0 = _c(x).cast("long").bitwiseXOR(F.lit(0x75D9543DE018BF45).cast("long"))

    def step(k, i):
        return (
            F.when(i == 1, _u64_add(F.bitwise_not(k), F.shiftleft(k, 18)))
            .when(i == 2, k.bitwiseXOR(_u64_rotr(k, 31)))
            .when(i == 3, _u64_add(_u64_add(
                F.shiftleft(k, 4), F.shiftleft(k, 2)), k))   # * 21
            .when(i == 4, k.bitwiseXOR(_u64_rotr(k, 11)))
            .when(i == 5, _u64_add(k, F.shiftleft(k, 6)))
            .otherwise(k.bitwiseXOR(_u64_rotr(k, 22))))

    out = F.aggregate(F.sequence(F.lit(1), F.lit(6)), k0, step)
    return out.bitwiseAND(F.lit(_L32).cast("long"))


# ------------------------------------------------ consistent hashing
# Reference: src/Functions/jumpConsistentHash.cpp (the public
# Lamport/Veach jump-consistent-hash algorithm) and
# kostikConsistentHash.cpp.  The LCG state is an unsigned 64-bit
# multiply-add mod 2^64, emulated with 16-bit limbs so the fold stays a
# pure JVM-side Catalyst expression under any ANSI setting (signed
# longs never overflow: each partial product <= 4*65535^2 + carry).
# Iteration count 64 covers n <= 32768 with failure probability
# ~ln(n)^64/64! < 1e-25 (expected jumps is ln(n)); beyond that the
# result equals the reference's with that same probability.

_JUMP_C = 2862933555777941757
_JUMP_LIMBS = [(_JUMP_C >> s) & 0xFFFF for s in (0, 16, 32, 48)]


def _jump_consistent_hash(key, n) -> Column:
    k = _c(key).cast("long")
    nb = _c(n).cast("long") if isinstance(n, Column) else F.lit(int(n)).cast("long")
    c0, c1, c2, c3 = [F.lit(c).cast("long") for c in _JUMP_LIMBS]
    m16 = F.lit(0xFFFF).cast("long")
    init = F.struct(
        F.lit(-1).cast("long").alias("b"), F.lit(0).cast("long").alias("j"),
        k.bitwiseAND(m16).alias("k0"),
        F.shiftrightunsigned(k, 16).bitwiseAND(m16).alias("k1"),
        F.shiftrightunsigned(k, 32).bitwiseAND(m16).alias("k2"),
        F.shiftrightunsigned(k, 48).bitwiseAND(m16).alias("k3"))

    def step(st, _i):
        k0, k1, k2, k3 = st["k0"], st["k1"], st["k2"], st["k3"]
        p0 = k0 * c0 + 1          # key = key*C + 1 (mod 2^64)
        p1 = k0 * c1 + k1 * c0 + F.shiftright(p0, 16)
        p2 = k0 * c2 + k1 * c1 + k2 * c0 + F.shiftright(p1, 16)
        p3 = k0 * c3 + k1 * c2 + k2 * c1 + k3 * c0 + F.shiftright(p2, 16)
        r0, r1 = p0.bitwiseAND(m16), p1.bitwiseAND(m16)
        r2, r3 = p2.bitwiseAND(m16), p3.bitwiseAND(m16)
        hi31 = (r3 * 32768 + F.shiftright(r2, 1))      # key >> 33
        nj = F.floor((st["j"] + 1).cast("double")
                     * (F.lit(2147483648.0) / (hi31 + 1).cast("double"))) \
              .cast("long")
        active = st["j"] < nb
        return F.struct(
            F.when(active, st["j"]).otherwise(st["b"]).alias("b"),
            F.when(active, nj).otherwise(st["j"]).alias("j"),
            F.when(active, r0).otherwise(k0).alias("k0"),
            F.when(active, r1).otherwise(k1).alias("k1"),
            F.when(active, r2).otherwise(k2).alias("k2"),
            F.when(active, r3).otherwise(k3).alias("k3"))

    out = F.aggregate(F.sequence(F.lit(1), F.lit(64)), init, step)
    return out["b"].cast("int")


# --------------------------------------------------- IPv6 conversions
# Reference: src/Functions/FunctionsCoding.h IPv6StringToNum /
# IPv6NumToString (inet_pton/formatIPv6 semantics).  Carrier for the
# "num" side is binary(16) (CH FixedString(16)); parsing expands `::`
# and embedded dotted-quad tails, formatting compresses the leftmost
# longest zero run per RFC 5952 and prints IPv4-mapped tails dotted.


def _ipv6_group_fill(x) -> Column:
    """Expand an IPv6 string into 8 zero-padded hex groups (array)."""
    s = F.lower(_c(x))
    # embedded IPv4 tail -> two hex groups
    v4 = F.regexp_extract(s, r"((\d{1,3}\.){3}\d{1,3})$", 1)
    v4num = (
        F.try_element_at(F.split(v4, r"\."), F.lit(1)).try_cast("long") * 16777216
        + F.try_element_at(F.split(v4, r"\."), F.lit(2)).try_cast("long") * 65536
        + F.try_element_at(F.split(v4, r"\."), F.lit(3)).try_cast("long") * 256
        + F.try_element_at(F.split(v4, r"\."), F.lit(4)).try_cast("long"))
    s = F.when(v4 != "", F.concat(
        F.regexp_replace(s, r"(\d{1,3}\.){3}\d{1,3}$", ""),
        F.lower(F.lpad(F.hex(F.shiftright(v4num, 16)), 4, "0")), F.lit(":"),
        F.lower(F.lpad(F.hex(v4num.bitwiseAND(F.lit(65535).cast("long"))), 4, "0"))
    )).otherwise(s)
    halves = F.split(s, "::", -1)
    left = F.filter(F.split(F.element_at(halves, 1), ":"), lambda g: g != "")
    right = F.when(F.size(halves) > 1,
                   F.filter(F.split(F.element_at(halves, 2), ":"),
                            lambda g: g != "")).otherwise(F.array())
    fill = F.array_repeat(F.lit("0"), (8 - F.size(left) - F.size(right)).cast("int"))
    groups = F.when(F.size(halves) > 1,
                    F.concat(left, fill, right)).otherwise(left)
    return F.transform(groups, lambda g: F.lpad(g, 4, "0"))


def _ipv6_string_to_num(x) -> Column:
    groups = _ipv6_group_fill(x)
    return F.when(F.size(groups) == 8,
                  F.unhex(F.array_join(groups, ""))).cast("binary")


def _ipv6_num_to_string(x) -> Column:
    h = F.lower(F.hex(_c(x)))          # 32 hex chars
    groups = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.regexp_replace(F.substring(h, i * 4 + 1, 4),
                                   r"^0+(.)", "$1"))
    joined = F.array_join(groups, ":")
    s2 = F.concat(F.lit(":"), joined, F.lit(":"))
    out = joined
    # leftmost longest zero run (>=2 groups) -> "::"; probe k=8..2 and
    # take the first (longest) match, splicing at its first offset
    for k in range(2, 9):
        seg = ":" + "0:" * k           # ":0:0:" etc. (len 2k+1)
        pos = F.locate(seg, s2)
        out = F.when(pos > 0, F.concat(
            F.substring(s2, 1, pos - 1), F.lit("::"),
            F.substring(s2, pos + 2 * k + 1, 2147483647))).otherwise(out)
    out = F.regexp_replace(F.regexp_replace(out, r"^:([^:])", "$1"),
                           r"([^:]):$", "$1")
    # IPv4-mapped ::ffff:a.b.c.d prints the dotted tail (formatIPv6)
    tailn = F.conv(F.substring(h, 25, 8), 16, 10).cast("long")
    dotted = F.concat_ws(
        ".", F.shiftright(tailn, 24).bitwiseAND(F.lit(255).cast("long")),
        F.shiftright(tailn, 16).bitwiseAND(F.lit(255).cast("long")),
        F.shiftright(tailn, 8).bitwiseAND(F.lit(255).cast("long")),
        tailn.bitwiseAND(F.lit(255).cast("long")))
    return F.when(h.startswith("00000000000000000000ffff"),
                  F.concat(F.lit("::ffff:"), dotted)).otherwise(out)


_IP2 = {
    "IPv6StringToNum": _ipv6_string_to_num,
    "IPv6StringToNumOrNull": _ipv6_string_to_num,   # NULL on malformed
    "IPv6NumToString": _ipv6_num_to_string,
    "IPv6StringToNumOrDefault": lambda x, d=None: F.coalesce(
        _ipv6_string_to_num(x),
        _c(d) if d is not None else F.unhex(F.lit("0" * 32))),
}


_HASH2 = {
    "jumpConsistentHash": _jump_consistent_hash,
    # kostikConsistentHash (an O(1) popcount-based algorithm needing the
    # native consistent_hashing lib) maps to jump consistent hashing:
    # same contract class (stable assignment, ~1/n movement on resize),
    # different bucket values — documented in LIMITS.md like the
    # cityHash64 -> xxhash64 mapping.
    "kostikConsistentHash": _jump_consistent_hash,
    "yandexConsistentHash": _jump_consistent_hash,
}

# ---------------------------------------- breadth: misc long tail (3)
# Reference: FunctionsStringSimilarity.cpp (ngramDistance),
# src/Functions/visitParamExtract* -> simpleJSON* family,
# src/Functions/dateName.cpp, timeSlots.cpp, FunctionsAES,
# src/Functions/array/arrayRandomSample.cpp, FunctionsHashing.h
# (javaHash/hiveHash).


def _char_ngrams(s, n: int = 4) -> Column:
    s = _c(s)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(0))),
        lambda i: F.substring(s, i, n))


def _ngram_distance(a, b) -> Column:
    """ngramDistance(a, b) (FunctionsStringSimilarity.cpp:296-303):
    symmetric difference of 4-gram multisets over the total count —
    1 - 2*common/(n1+n2).  The reference counts hashed grams (CRC-based,
    collisions fold); we count the grams themselves, which is the
    collision-free limit of the same metric."""
    ga, gb = _char_ngrams(a), _char_ngrams(b)
    na, nb = F.size(ga), F.size(gb)
    common = F.aggregate(
        F.array_distinct(ga), F.lit(0),
        lambda acc, g: acc + F.least(
            F.size(F.filter(ga, lambda x: x == g)),
            F.size(F.filter(gb, lambda x: x == g))))
    return F.when(na + nb == 0, F.lit(0.0)).otherwise(
        1.0 - 2.0 * common.cast("double") / (na + nb))


_DATE_NAME_PART = {
    "year": "yyyy", "month": "MMMM", "weekday": "EEEE", "day": "d",
    "hour": "H", "minute": "m", "second": "s",
}


def _date_name(part, d) -> Column:
    if not isinstance(part, str):
        raise ValueError("dateName: part must be a literal string")
    p = part.lower()
    if p in _DATE_NAME_PART:
        return F.date_format(_c(d), _DATE_NAME_PART[p])
    if p == "quarter":
        return F.quarter(_c(d)).cast("string")
    if p == "week":
        return F.weekofyear(_c(d)).cast("string")
    if p == "dayofyear":
        return F.dayofyear(_c(d)).cast("string")
    raise ValueError(f"dateName: unsupported part {part!r}")


def _time_slots(start, duration, size=1800) -> Column:
    """timeSlots(t, duration[, size]) (src/Functions/timeSlots.cpp):
    slot starts (t rounded down to size) covering [t, t+duration]."""
    t0 = F.floor(F.unix_timestamp(_c(start)) / _c(size)) * _c(size)
    return F.transform(
        F.sequence(t0.cast("long"),
                   (F.unix_timestamp(_c(start)) + _c(duration)).cast("long"),
                   _c(size).cast("long")),
        F.timestamp_seconds)


_AES_MODE = {"aes-128-ecb": "ECB", "aes-192-ecb": "ECB", "aes-256-ecb": "ECB",
             "aes-128-gcm": "GCM", "aes-192-gcm": "GCM", "aes-256-gcm": "GCM",
             "aes-128-cbc": "CBC", "aes-192-cbc": "CBC", "aes-256-cbc": "CBC"}


def _aes(fn, mode, data, key, iv=None):
    if not isinstance(mode, str) or mode.lower() not in _AES_MODE:
        raise ValueError(f"encrypt/decrypt: unsupported mode {mode!r}")
    m = F.lit(_AES_MODE[mode.lower()])
    pad = F.lit("DEFAULT")
    if iv is not None:
        return fn(_c(data), _c(key), m, pad, _c(iv))
    return fn(_c(data), _c(key), m, pad)


def _java_hash(s) -> Column:
    """javaHash(s) (FunctionsHashing.h JavaHashImpl): s[0]*31^(n-1)+...
    over UTF-16 code units, 32-bit wrap.  ascii() reads code points, so
    the contract here is exact for BMP text (the common case); surrogate
    pairs diverge."""
    s = _c(s)
    acc = F.aggregate(
        F.sequence(F.lit(1), F.length(s)),
        F.lit(0).cast("long"),
        lambda a, i: F.pmod(a * 31 + F.ascii(F.substring(s, i, 1)),
                            F.lit(4294967296).cast("long")))
    signed = F.when(acc >= 2147483648, acc - 4294967296).otherwise(acc)
    # sequence(1, 0) would count down; empty input is hash 0
    return F.when(F.length(s) == 0, F.lit(0)).otherwise(signed).cast("int")


_MISC3 = {
    "ngramDistance": _ngram_distance,
    "ngramSearch": lambda a, b: 1.0 - _ngram_distance(a, b),
    "alphaTokens": lambda s: F.filter(
        F.split(_c(s), "[^A-Za-z]+"), lambda t: t != ""),
    "splitByNonAlpha": lambda s: F.filter(
        F.split(_c(s), r"[\s\p{Punct}]+"), lambda t: t != ""),
    "dateName": _date_name,
    "timeSlots": _time_slots,
    # Type-mapping policy vs the reference (FunctionsAES.h returns CH
    # String — arbitrary bytes — for BOTH directions): CH String is
    # binary-safe, Spark StringType is UTF-8.  Ciphertext is almost
    # never valid UTF-8, so encrypt keeps Spark binary (the faithful
    # carrier for CH String bytes); decrypt casts to string because
    # recovered plaintexts are overwhelmingly text and callers compare
    # them as strings.  Fidelity limit: a NON-UTF-8 plaintext is
    # corrupted by that cast — use the *Binary variants below to keep
    # raw bytes.
    "encrypt": lambda mode, d, k, iv=None: _aes(F.aes_encrypt, mode, d, k, iv),
    "decrypt": lambda mode, d, k, iv=None: _aes(
        F.aes_decrypt, mode, d, k, iv).cast("string"),
    "decryptBinary": lambda mode, d, k, iv=None: _aes(
        F.aes_decrypt, mode, d, k, iv),
    "tryDecrypt": lambda mode, d, k, iv=None: _aes(
        F.try_aes_decrypt, mode, d, k, iv).cast("string"),
    "tryDecryptBinary": lambda mode, d, k, iv=None: _aes(
        F.try_aes_decrypt, mode, d, k, iv),
    "aesEncryptMysql": lambda mode, d, k: _aes(F.aes_encrypt, mode, d, k),
    "aesDecryptMysql": lambda mode, d, k: _aes(
        F.aes_decrypt, mode, d, k).cast("string"),
    "randExponential": lambda lam: -F.log(F.lit(1.0) - F.rand()) / _c(lam),
    "simpleJSONExtractString": lambda j, k: F.get_json_object(
        _c(j), F.format_string("$.%s", _c(k)) if isinstance(k, Column) else f"$.{k}"),
    "simpleJSONExtractRaw": lambda j, k: F.get_json_object(_c(j), f"$.{k}"),
    "simpleJSONExtractInt": lambda j, k: F.get_json_object(_c(j), f"$.{k}").cast("long"),
    "simpleJSONExtractFloat": lambda j, k: F.get_json_object(_c(j), f"$.{k}").cast("double"),
    "simpleJSONExtractBool": lambda j, k: (
        F.get_json_object(_c(j), f"$.{k}") == "true").cast("int"),
    "simpleJSONHas": lambda j, k: F.get_json_object(_c(j), f"$.{k}").isNotNull().cast("int"),
    "visitParamExtractString": lambda j, k: F.get_json_object(_c(j), f"$.{k}"),
    "visitParamExtractRaw": lambda j, k: F.get_json_object(_c(j), f"$.{k}"),
    "visitParamHas": lambda j, k: F.get_json_object(_c(j), f"$.{k}").isNotNull().cast("int"),
    "JSONExtractKeysAndValues": lambda j: F.map_entries(
        F.from_json(_c(j), "map<string,string>")),
    "JSONExtractValues": lambda j: F.map_values(
        F.from_json(_c(j), "map<string,string>")),
    # deterministic md5-draw refinement of the reference's PRNG sample
    # (arrayRandomSample.cpp) — same contract as groupArraySample
    "arrayRandomSample": lambda a, k: F.transform(
        F.slice(F.array_sort(F.transform(
            _c(a), lambda x: F.struct(F.md5(x.cast("string")).alias("h"),
                                      x.alias("v")))), 1, _c(k)),
        lambda s: s["v"]),
    "javaHash": _java_hash,
    "hiveHash": lambda s: _java_hash(s).cast("long").bitwiseAND(0x7FFFFFFF).cast("int"),
}


# OrDefault conversion family (reference FunctionsConversion.h
# OrDefault variants): try_cast, falling back to an explicit default or
# the type's zero value; unsigned widths range-check like the
# reference's readIntTextImpl (negative / over-max input -> fallback).
def _to_or_default(spark_type: str, zero, umax=None):
    def conv(x, default=None):
        fallback = (_c(default).cast(spark_type) if default is not None
                    else F.lit(zero).cast(spark_type))
        parsed = _c(x).try_cast(spark_type)
        if umax is not None:
            parsed = F.when(
                (parsed >= 0)
                & (parsed <= F.lit(str(umax)).cast("decimal(38,0)")),
                parsed)
        return F.coalesce(parsed, fallback)
    return conv


_CONV3 = {
    f"to{ch_name}OrDefault": _to_or_default(spark_t, zero, umax)
    for ch_name, spark_t, zero, umax in [
        ("Int8", "tinyint", 0, None), ("Int16", "smallint", 0, None),
        ("Int32", "int", 0, None), ("Int64", "bigint", 0, None),
        ("UInt8", "smallint", 0, 255), ("UInt16", "int", 0, 65535),
        ("UInt32", "bigint", 0, 4294967295),
        ("UInt64", "decimal(20,0)", 0, (1 << 64) - 1),
        ("Float32", "float", 0.0, None), ("Float64", "double", 0.0, None),
        ("Date", "date", "1970-01-01", None),
        ("Date32", "date", "1970-01-01", None),
        ("DateTime", "timestamp", "1970-01-01 00:00:00", None),
        ("DateTime64", "timestamp", "1970-01-01 00:00:00", None),
    ]
}
_CONV3["greatCircleAngle"] = lambda lon1, lat1, lon2, lat2: F.degrees(
    _great_circle(lon1, lat1, lon2, lat2) / F.lit(6371000.0))


# Bitmap state algebra (reference src/Functions/FunctionsBitmap.cpp) —
# states are sorted array<long>; implementations in operators/bitmaps.py.
from clickhouse_core_spark.operators import bitmaps as _bm  # noqa: E402

_BITMAP = {
    "bitmapBuild": _bm.bitmap_build,
    "bitmapToArray": _bm.bitmap_to_array,
    "bitmapCardinality": _bm.bitmap_cardinality,
    "bitmapAnd": _bm.bitmap_and,
    "bitmapOr": _bm.bitmap_or,
    "bitmapXor": _bm.bitmap_xor,
    "bitmapAndnot": _bm.bitmap_andnot,
    "bitmapAndCardinality": _bm.bitmap_and_cardinality,
    "bitmapOrCardinality": _bm.bitmap_or_cardinality,
    "bitmapXorCardinality": _bm.bitmap_xor_cardinality,
    "bitmapAndnotCardinality": _bm.bitmap_andnot_cardinality,
    "bitmapContains": _bm.bitmap_contains,
    "bitmapHasAll": _bm.bitmap_has_all,
    "bitmapHasAny": _bm.bitmap_has_any,
    "bitmapMin": _bm.bitmap_min,
    "bitmapMax": _bm.bitmap_max,
    "bitmapSubsetInRange": _bm.bitmap_subset_in_range,
    "bitmapSubsetLimit": _bm.bitmap_subset_limit,
    "subBitmap": _bm.sub_bitmap,
}

def _min_sample_size_continuous(baseline, sigma, mde, power, alpha):
    """minSampleSizeContinuous(baseline, sigma, mde, power, alpha) ->
    struct(minimum_sample_size, detect_range_lower, detect_range_upper)
    (reference src/Functions/minSampleSize.cpp:83-168; mde/power/alpha
    are constant args there too, so the normal quantiles are computed
    driver-side and the per-row work stays Catalyst)."""
    from statistics import NormalDist
    z = NormalDist().inv_cdf(1.0 - alpha / 2) + NormalDist().inv_cdf(power)
    delta = _c(baseline) * F.lit(float(mde))
    mss = (F.lit(2.0) * _c(sigma) * _c(sigma) * F.lit(z * z)
           / (delta * delta))
    return F.struct(mss.alias("minimum_sample_size"),
                    (_c(baseline) - delta).alias("detect_range_lower"),
                    (_c(baseline) + delta).alias("detect_range_upper"))


def _min_sample_size_conversion(p1, mde, power, alpha):
    """minSampleSizeConversion(p1, mde, power, alpha) (reference
    src/Functions/minSampleSize.cpp:240-276): two-proportion test,
    (z_{1-a/2}*sqrt(2*pbar*qbar) + z_power*sqrt(p1*q1+p2*q2))^2 / mde^2."""
    from statistics import NormalDist
    za = NormalDist().inv_cdf(1.0 - alpha / 2)
    zp = NormalDist().inv_cdf(power)
    p1c = _c(p1)
    p2 = p1c + F.lit(float(mde))
    q1, q2 = F.lit(1.0) - p1c, F.lit(1.0) - p2
    p_bar = (p1c + p2) / F.lit(2.0)
    q_bar = F.lit(1.0) - p_bar
    root = (F.lit(za) * F.sqrt(F.lit(2.0) * p_bar * q_bar)
            + F.lit(zp) * F.sqrt(p1c * q1 + p2 * q2))
    mss = root * root / F.lit(float(mde) ** 2)
    return F.struct(mss.alias("minimum_sample_size"),
                    (p1c - F.lit(float(mde))).alias("detect_range_lower"),
                    (p1c + F.lit(float(mde))).alias("detect_range_upper"))


def _extract_all_groups(s, pattern: str, horizontal: bool = False):
    """extractAllGroupsVertical/Horizontal (reference
    src/Functions/extractAllGroups.h): group count comes from compiling
    the constant pattern driver-side; per-row extraction is
    regexp_extract_all per group — JVM-side."""
    import re as _re
    ngroups = _re.compile(pattern).groups
    per_group = [F.regexp_extract_all(_c(s), F.lit(pattern), i + 1)
                 for i in range(ngroups)]
    if horizontal:
        out = F.array(*per_group)
    else:
        zipped = F.arrays_zip(*[g.alias(f"g{i}") for i, g in
                                enumerate(per_group)])
        out = F.transform(zipped, lambda st: F.array(
            *[st[f"g{i}"] for i in range(ngroups)]))
    # Nullable haystack propagates NULL (golden 01883: NULL, not [])
    return F.when(_c(s).isNull(), F.lit(None)).otherwise(out)


def _json_merge_patch_udf():
    """RFC 7386 JSON merge patch (reference
    src/Functions/jsonMergePatch.cpp) — rapidjson there, Python json in
    an Arrow-batched pandas_udf here (niche function, not a hot path)."""
    import json

    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def merge(target, patch):
        if not isinstance(patch, dict):
            return patch
        out = dict(target) if isinstance(target, dict) else {}
        for k, v in patch.items():
            if v is None:
                out.pop(k, None)
            else:
                out[k] = merge(out.get(k), v)
        return out

    def _merge(a: pd.Series, b: pd.Series) -> pd.Series:
        res = []
        for x, y in zip(a, b):
            if x is None or y is None:
                res.append(None)
                continue
            res.append(json.dumps(
                merge(json.loads(x), json.loads(y)),
                separators=(",", ":"), sort_keys=True))
        return pd.Series(res)

    # real (non-string) annotations: the module-level
    # `from __future__ import annotations` would stringify a decorator's
    # view of the hints, so set them explicitly
    _merge.__annotations__ = {"a": pd.Series, "b": pd.Series,
                              "return": pd.Series}
    return pandas_udf(_merge, "string")


# ------------------------------------------------- UUID / Snowflake / ULID
# Reference: src/Functions/FunctionsCodingUUID.cpp,
# generateUUIDv4/v7.cpp, snowflake.cpp, snowflakeIDToDateTime.cpp,
# dateTimeToSnowflakeID.cpp, FunctionsCodingULID.cpp, generateULID.cpp.
# Spark has no UUID type; UUIDs are canonical lowercase strings and the
# "FixedString(16)" byte form is BinaryType — same carrier the
# reference's String-typed functions use.

_UUID_RE = ("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")
_ZERO_UUID = "00000000-0000-0000-0000-000000000000"
_SNOWFLAKE_EPOCH = 1288834974657  # snowflake.cpp:43 (Twitter epoch, ms)
_CROCKFORD = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"


def _uuid_valid(s):
    return _c(s).rlike(_UUID_RE)


def _uuid_dashes(hex32):
    """Insert canonical dashes into a 32-char hex string."""
    return F.lower(F.concat(
        F.substring(hex32, 1, 8), F.lit("-"), F.substring(hex32, 9, 4),
        F.lit("-"), F.substring(hex32, 13, 4), F.lit("-"),
        F.substring(hex32, 17, 4), F.lit("-"), F.substring(hex32, 21, 12)))


def _ulid_time_ms(s):
    """First 10 Crockford-base32 chars of a ULID = 48-bit unix ms
    (FunctionsCodingULID.cpp ULIDStringToDateTime)."""
    alphabet = F.array(*[F.lit(c) for c in _CROCKFORD])
    chars = F.split(F.upper(F.substring(_c(s), 1, 10)), "")
    chars = F.filter(chars, lambda c: c != "")
    return F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, c: acc * 32 + (F.array_position(alphabet, c) - 1))


_UUIDF = {
    "toUUID": lambda s: F.when(_uuid_valid(s), F.lower(_c(s))),
    "toUUIDOrNull": lambda s: F.when(_uuid_valid(s), F.lower(_c(s))),
    "toUUIDOrZero": lambda s: F.coalesce(
        F.when(_uuid_valid(s), F.lower(_c(s))), F.lit(_ZERO_UUID)),
    "toUUIDOrDefault": lambda s, d=None: F.coalesce(
        F.when(_uuid_valid(s), F.lower(_c(s))),
        _c(d) if d is not None else F.lit(_ZERO_UUID)),
    "UUIDStringToNum": lambda s: F.unhex(F.translate(_c(s), "-", "")),
    "UUIDNumToString": lambda b: _uuid_dashes(F.hex(_c(b))),
    # UUIDv7: first 48 bits = unix ms (generateUUIDv7.cpp layout)
    "UUIDv7ToDateTime": lambda u: F.timestamp_millis(F.conv(
        F.substring(F.translate(_c(u), "-", ""), 1, 12), 16, 10)
        .cast("long")),
    "generateUUIDv7": lambda: _uuid_dashes(F.concat(
        F.lpad(F.hex(F.unix_millis(F.current_timestamp())), 12, "0"),
        F.lit("7"),
        F.substring(F.sha2(F.rand().cast("string"), 256), 1, 3),
        F.lit("8"),  # variant bits ~ '10xx'
        F.substring(F.sha2(F.rand().cast("string"), 256), 4, 15))),
    "serverUUID": lambda: F.lit(_ZERO_UUID),  # single-server constant
    # Snowflake (snowflake.cpp: 41-bit ms + 22-bit machine/seq).
    # Optional args (expression salt / machine id) are accepted and
    # ignored like the reference's expr argument — they only force
    # distinct calls to produce distinct columns.
    "generateSnowflakeID": lambda *a: (
        F.shiftleft(F.unix_millis(F.current_timestamp()), 22)
        + (F.rand() * 4194304).cast("long")),
    "snowflakeToDateTime": lambda x: F.timestamp_seconds(
        ((F.shiftright(_c(x).cast("long"), 22) + F.lit(_SNOWFLAKE_EPOCH))
         / 1000).cast("long")),
    "snowflakeToDateTime64": lambda x: F.timestamp_millis(
        F.shiftright(_c(x).cast("long"), 22) + F.lit(_SNOWFLAKE_EPOCH)),
    "dateTimeToSnowflake": lambda ts: F.shiftleft(
        F.unix_timestamp(_c(ts)) * 1000 - F.lit(_SNOWFLAKE_EPOCH), 22),
    "dateTime64ToSnowflake": lambda ts: F.shiftleft(
        F.unix_millis(_c(ts)) - F.lit(_SNOWFLAKE_EPOCH), 22),
    # snowflakeID* family (epoch defaults to 0 — snowflakeIDToDateTime.cpp:77)
    "snowflakeIDToDateTime": lambda x, epoch=0: F.timestamp_seconds(
        ((F.shiftright(_c(x).cast("long"), 22) + F.lit(int(epoch)))
         / 1000).cast("long")),
    "snowflakeIDToDateTime64": lambda x, epoch=0: F.timestamp_millis(
        F.shiftright(_c(x).cast("long"), 22) + F.lit(int(epoch))),
    # Spark timestamps are always sub-second, so the ID form keeps ms
    # (the reference's DateTime argument truncates to seconds only
    # because the TYPE does)
    "dateTimeToSnowflakeID": lambda ts, epoch=0: F.shiftleft(
        F.unix_millis(_c(ts)) - F.lit(int(epoch)), 22),
    "dateTime64ToSnowflakeID": lambda ts, epoch=0: F.shiftleft(
        F.unix_millis(_c(ts)) - F.lit(int(epoch)), 22),
    # ULID
    "ULIDStringToDateTime": lambda s: F.timestamp_millis(_ulid_time_ms(s)),
    "generateULID": lambda: F.concat(
        F.translate(F.lpad(F.lower(F.conv(
            F.unix_millis(F.current_timestamp()).cast("string"), 10, 32)),
            10, "0"), "0123456789abcdefghijklmnopqrstuv", _CROCKFORD),
        F.translate(F.lpad(F.lower(F.conv(
            (F.rand() * F.lit(float(1 << 40))).cast("long").cast("string"),
            10, 32)), 8, "0"),
            "0123456789abcdefghijklmnopqrstuv", _CROCKFORD),
        F.translate(F.lpad(F.lower(F.conv(
            (F.rand() * F.lit(float(1 << 40))).cast("long").cast("string"),
            10, 32)), 8, "0"),
            "0123456789abcdefghijklmnopqrstuv", _CROCKFORD)),
}


def _format_readable_time_delta(sec):
    """formatReadableTimeDelta (reference
    src/Functions/formatReadableTimeDelta.cpp:178-210): units year=365d,
    month=30.5d; nonzero units joined with ', ', ' and ' before the
    terminal seconds unit (always shown)."""
    s = F.floor(F.abs(_c(sec).cast("double"))).cast("long")
    sign = F.when(_c(sec) < 0, F.lit("-")).otherwise(F.lit(""))
    units = [("year", 365 * 86400), ("month", int(30.5 * 86400)),
             ("day", 86400), ("hour", 3600), ("minute", 60)]
    parts = []
    rem = s
    for name, width in units:
        cnt = F.floor(rem / F.lit(width)).cast("long")
        rem = rem % F.lit(width)
        parts.append(F.when(cnt > 0, F.concat(
            cnt.cast("string"), F.lit(" " + name),
            F.when(cnt != 1, F.lit("s")).otherwise(F.lit("")))))
    secs = rem
    last = F.concat(secs.cast("string"), F.lit(" second"),
                    F.when(secs != 1, F.lit("s")).otherwise(F.lit("")))
    arr = F.filter(F.array(*parts), lambda x: x.isNotNull())
    body = F.when(F.size(arr) > 0,
                  F.concat(F.array_join(arr, ", "), F.lit(" and "), last)
                  ).otherwise(last)
    return F.concat(sign, body)


def _change_part(part: str):
    """changeYear/Month/Day/Hour/Minute/Second (reference
    src/Functions/changeDate.cpp): rebuild the timestamp with one
    component replaced (invalid combinations -> NULL via
    try_make_timestamp, the OrNull-style refinement of the reference's
    saturation)."""
    def fn(ts, v):
        t = _c(ts).cast("timestamp")
        comp = {
            "year": F.year(t), "month": F.month(t),
            "day": F.dayofmonth(t), "hour": F.hour(t),
            "minute": F.minute(t), "second": F.second(t),
        }
        comp[part] = _c(v) if isinstance(v, Column) else F.lit(int(v))
        return F.try_make_timestamp(
            comp["year"], comp["month"], comp["day"],
            comp["hour"], comp["minute"], comp["second"].cast("double"))
    return fn


# MySQL/ANSI-compat names + reference registerAlias surface (each alias
# line cites the reference file that registers it).
_COMPAT = {
    "formatReadableTimeDelta": _format_readable_time_delta,
    "changeYear": _change_part("year"),
    "changeMonth": _change_part("month"),
    "changeDay": _change_part("day"),
    "changeHour": _change_part("hour"),
    "changeMinute": _change_part("minute"),
    "changeSecond": _change_part("second"),
    # toInterval* (FunctionsConversion.h interval forms): day-time
    # intervals via make_dt_interval, year-month via make_interval
    "toIntervalSecond": lambda n: F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0), _c(n).cast("double")),
    "toIntervalMinute": lambda n: F.make_dt_interval(
        F.lit(0), F.lit(0), _c(n).cast("int")),
    "toIntervalHour": lambda n: F.make_dt_interval(
        F.lit(0), _c(n).cast("int")),
    "toIntervalDay": lambda n: F.make_dt_interval(_c(n).cast("int")),
    "toIntervalWeek": lambda n: F.make_dt_interval(
        (_c(n) * 7).cast("int")),
    "toIntervalMonth": lambda n: F.make_interval(
        F.lit(0), _c(n).cast("int")),
    "toIntervalQuarter": lambda n: F.make_interval(
        F.lit(0), (_c(n) * 3).cast("int")),
    "toIntervalYear": lambda n: F.make_interval(_c(n).cast("int")),
    "nowInBlock": lambda: F.current_timestamp(),  # nowInBlock.cpp
    "UTCTimestamp": lambda: F.current_timestamp(),  # UTC session
    # widthBucket.cpp:283-290 (+ width_bucket alias)
    "widthBucket": lambda x, lo, hi, n: F.width_bucket(
        _c(x), _c(lo), _c(hi), _c(n)),
    # extractKeyValuePairs.cpp:245-256 (str_to_map/mapFromString aliases).
    # Quoting-character handling needs the reference's state machine;
    # the regex delimiters cover the unquoted form.
    "extractKeyValuePairs": lambda s, kv=":", pairs=", ;": F.str_to_map(
        _c(s), F.lit("[" + pairs.replace(" ", r"\s") + "]+"),
        F.lit(__import__("re").escape(kv))),
    # extractAllGroups.h (Vertical/Horizontal named variants)
    "extractAllGroupsVertical": lambda s, p: _extract_all_groups(s, p),
    "extractAllGroupsHorizontal": lambda s, p: _extract_all_groups(
        s, p, horizontal=True),
    "extractGroups": lambda s, p: F.element_at(
        _extract_all_groups(s, p), 1),
    # minSampleSize.cpp
    "minSampleSizeContinuous": _min_sample_size_continuous,
    "minSampleSizeConversion": _min_sample_size_conversion,
    # jsonMergePatch.cpp
    "jsonMergePatch": lambda a, b: _json_merge_patch_udf()(_c(a), _c(b)),
    # DateTimeTransforms: toTimeZone changes the DISPLAY timezone of a
    # CH DateTime; Spark timestamps are zone-less instants, so the
    # instant is unchanged (comparisons/arithmetic agree with CH).
    "toTimeZone": lambda ts, tz: _c(ts),
    "timeZone": lambda: F.current_timezone(),
    "serverTimeZone": lambda: F.current_timezone(),
    "timeZoneOf": lambda ts: F.current_timezone(),
    # timezoneOffset(ts): UTC offset in seconds of the session zone at ts
    "timeZoneOffset": lambda ts: (
        F.unix_timestamp(F.from_utc_timestamp(_c(ts), F.current_timezone()))
        - F.unix_timestamp(_c(ts))).cast("int"),
    # byteSlice (reference src/Functions/byteSlice.cpp): byte-addressed
    # substring; Spark substring on a binary cast is byte-addressed, the
    # string cast back assumes the slice lands on UTF-8 boundaries.
    "byteSlice": lambda s, off, ln: F.substring(
        _c(s).cast("binary"), off, ln).cast("string"),
    # misc server introspection (IFunctionOverloadResolver constants)
    "currentDatabase": lambda: F.current_database(),
    "currentSchemas": lambda _b=True: F.array(F.current_database()),
    "currentUser": lambda: F.current_user(),
    "connectionId": lambda: F.lit(0).cast("bigint"),  # connectionId.cpp
    "displayName": lambda: F.current_database(),
    "hostName": lambda: F.lit(__import__("socket").gethostname()),
    "version": lambda: F.lit("clickhouse-core-spark"),
}


# Pure-rename aliases: CH registerAlias(name, target) surface where the
# target implementation already exists in this registry.
_ALIAS_NAMES = {
    "width_bucket": "widthBucket",           # widthBucket.cpp:290
    "str_to_map": "extractKeyValuePairs",    # extractKeyValuePairs.cpp:254
    "mapFromString": "extractKeyValuePairs",  # extractKeyValuePairs.cpp:255
    "date_bin": "toStartOfInterval",         # toStartOfInterval.cpp:434
    "curdate": "today",                      # today.cpp:88
    "current_date": "today",
    "TO_DAYS": "toDaysSinceYearZero",        # toDaysSinceYearZero.cpp:23
    "FROM_UNIXTIME": "fromUnixTimestamp",    # fromUnixTimestamp alias
    "TO_UNIXTIME": "toUnixTimestamp",
    "str_to_date": "parseDateTimeOrNull",    # parseDateTime.cpp MySQL alias
    "FROM_BASE64": "base64Decode",           # FunctionBase64Conversion.h
    "TO_BASE64": "base64Encode",
    "INET_ATON": "IPv4StringToNum",          # coding.cpp aliases
    "INET_NTOA": "IPv4NumToString",
    "lcase": "lower", "ucase": "upper",      # registerAlias Case::Insensitive
    "ceiling": "ceil",
    "rand32": "rand",                        # rand.cpp
    "timestampDiff": "dateDiff",             # dateDiff.cpp:471
    "timestamp_diff": "dateDiff",
    "TIMESTAMP_DIFF": "dateDiff",
    "mismatches": "byteHammingDistance",     # FunctionsStringDistance.cpp:525
    "splitByAlpha": "alphaTokens",           # FunctionsStringArray.cpp
    "positive_modulo": "positiveModulo",     # modulo.cpp
    "pmod": "positiveModulo",
    "normL1": "L1Norm", "normL2": "L2Norm",  # array/vector aliases
    "normL2Squared": "L2SquaredNorm", "normLinf": "LinfNorm",
    "normLp": "LpNorm",
    "distanceL1": "L1Distance", "distanceL2": "L2Distance",
    "distanceL2Squared": "L2SquaredDistance",
    "distanceLinf": "LinfDistance", "distanceLp": "LpDistance",
    "normalizeL1": "L1Normalize", "normalizeL2": "L2Normalize",
    "minSampleSizeContinous": "minSampleSizeContinuous",  # .cpp:287 typo alias
    "visitParamExtractInt": "simpleJSONExtractInt",
    "visitParamExtractFloat": "simpleJSONExtractFloat",
    "visitParamExtractBool": "simpleJSONExtractBool",
    "visitParamExtractUInt": "simpleJSONExtractInt",
    # MySQL-compat datetime aliases (registerAlias Case::Insensitive,
    # src/Functions/toDayOfMonth.cpp etc.)
    "DAYOFMONTH": "toDayOfMonth", "DAYOFWEEK": "toDayOfWeek",
    "DAYOFYEAR": "toDayOfYear", "LAST_DAY": "toLastDayOfMonth",
    "FROM_DAYS": "fromDaysSinceYearZero", "DATE_FORMAT": "formatDateTime",
    "UTC_timestamp": "UTCTimestamp", "MILLISECOND": "toMillisecond",
    "DATE_DIFF": "dateDiff", "yearweek": "toYearWeek",
    "current_database": "currentDatabase",
    "current_user": "currentUser",
    "current_schemas": "currentSchemas",
    "connection_id": "connectionId",
    "hostname": "hostName",
    "fullHostName": "hostName",
    # vectorFunctions.cpp:1579-1581 / modulo.cpp / FORMAT_BYTES
    "vectorSum": "tuplePlus",
    "vectorDifference": "tupleMinus",
    "normalizeLinf": "LinfNormalize",
    "normalizeLp": "LpNormalize",
    "modOrNull": "moduloOrNull",
    "pmodOrNull": "positiveModuloOrNull",
    "positive_modulo_or_null": "positiveModuloOrNull",
    "FORMAT_BYTES": "formatReadableSize",
    "INET6_ATON": "IPv6StringToNum",
    "INET6_NTOA": "IPv6NumToString",
    # parseDateTime{32,64}BestEffort width aliases + US variants
    # (FunctionsConversion.cpp registrations; the BestEffort parser here
    # already accepts both - and / forms, so US maps to the same parse)
    "parseDateTime32BestEffort": "parseDateTimeBestEffort",
    "parseDateTime64BestEffort": "parseDateTimeBestEffort",
    "parseDateTime32BestEffortOrNull": "parseDateTimeBestEffortOrNull",
    "parseDateTime64BestEffortOrNull": "parseDateTimeBestEffortOrNull",
    "parseDateTimeBestEffortUS": "parseDateTimeBestEffort",
    "parseDateTimeBestEffortUSOrNull": "parseDateTimeBestEffortOrNull",
    "parseDateTime64OrNull": "parseDateTimeOrNull",
    "parseDateTime64OrZero": "parseDateTimeOrZero",
    "startsWithUTF8": "startsWith",      # byte==codepoint prefix on UTF-8 text
    "endsWithUTF8": "endsWith",
    # RFC 3986 strict-parse variants: this frontend's regex parse is
    # already scheme-strict, so the RFC names alias the plain forms
    "domainRFC": "domain",
    "domainWithoutWWWRFC": "domainWithoutWWW",
    "topLevelDomainRFC": "topLevelDomain",
    "portRFC": "port",
    "firstSignificantSubdomainRFC": "firstSignificantSubdomain",
    "cutToFirstSignificantSubdomainRFC": "cutToFirstSignificantSubdomain",
    "cutToFirstSignificantSubdomainWithWWW": "cutToFirstSignificantSubdomain",
    "cutToFirstSignificantSubdomainWithWWWRFC": "cutToFirstSignificantSubdomain",
    # Custom-TLD-list variants alias the builtin-list forms (the custom
    # list is a server config file — documented divergence)
    "firstSignificantSubdomainCustom": "firstSignificantSubdomain",
    "firstSignificantSubdomainCustomRFC": "firstSignificantSubdomain",
    "cutToFirstSignificantSubdomainCustom": "cutToFirstSignificantSubdomain",
    "cutToFirstSignificantSubdomainCustomRFC": "cutToFirstSignificantSubdomain",
    "cutToFirstSignificantSubdomainCustomWithWWW": "cutToFirstSignificantSubdomain",
    "cutToFirstSignificantSubdomainCustomWithWWWRFC": "cutToFirstSignificantSubdomain",
    "divideDecimal": "divide",           # divideDecimal.cpp (result scale arg
    "multiplyDecimal": "multiply",       # handled by Spark decimal rules)
    "FQDN": "hostName",                  # getFQDNOrHostName fallback path
    "fqdn": "hostName",
    "concatAssumeInjective": "concat",   # optimizer hint form of concat
    "concatWithSeparatorAssumeInjective": "concatWithSeparator",
    # MySQL-mode AES: identical to the openssl mode for keys of exact
    # cipher length (MySQL key folding for long keys is not replicated)
    "aes_encrypt_mysql": "encrypt",
    "aes_decrypt_mysql": "decrypt",
    "extractKeyValuePairsWithEscaping": "extractKeyValuePairs",
    "simpleJSONExtractUInt": "simpleJSONExtractInt",
}


from clickhouse_core_spark.functions import search_ext as _sx  # noqa: E402
from clickhouse_core_spark.functions import collections_ext as _cx  # noqa: E402

_SEARCH_EXT, _SEARCH_EXT_ALIASES = _sx.build(_ngram_distance)
_ALIAS_NAMES.update(_SEARCH_EXT_ALIASES)
_COLL_EXT, _COLL_EXT_ALIASES = _cx.build()
_ALIAS_NAMES.update(_COLL_EXT_ALIASES)

from clickhouse_core_spark.functions import unicode_ext as _ux  # noqa: E402

_UNICODE_EXT, _UNICODE_EXT_ALIASES = _ux.build()
_ALIAS_NAMES.update(_UNICODE_EXT_ALIASES)

from clickhouse_core_spark.functions import sqids_codec as _sq  # noqa: E402

_SQIDS, _SQIDS_ALIASES = _sq.build()
_ALIAS_NAMES.update(_SQIDS_ALIASES)

from clickhouse_core_spark.functions import seriesfns as _sf  # noqa: E402

_SERIESF, _SERIESF_ALIASES = _sf.build()
_ALIAS_NAMES.update(_SERIESF_ALIASES)

from clickhouse_core_spark.functions import fuzzymatch as _fz  # noqa: E402

_FUZZY, _FUZZY_ALIASES = _fz.build()
_ALIAS_NAMES.update(_FUZZY_ALIASES)

from clickhouse_core_spark.functions import purehash as _ph  # noqa: E402

_PUREHASH, _PUREHASH_ALIASES = _ph.build()
# hashlib's OpenSSL may already provide MD4 on some builds — that path
# (unicode_ext) wins; the pure-Python RFC 1320 fold is the fallback.
for _k in list(_PUREHASH):
    if _k in _UNICODE_EXT:
        del _PUREHASH[_k]
_ALIAS_NAMES.update(_PUREHASH_ALIASES)

# ----------------------------------- breadth: conversion matrix closure
# Reference: FunctionsConversion.h — every to<T>OrNull / to<T>OrZero
# width the reference registers (Int128/256, UInt128/256, Decimal256,
# BFloat16 exceed Spark's type system — documented in LIMITS.md).


def _conv_or_null(t: str, umax: int | None = None):
    if umax is None:
        return lambda x: _c(x).try_cast(t)
    # unsigned carrier is the next-wider signed type; CH's string parse
    # range-checks (readIntTextImpl), so out-of-range -> NULL explicitly
    # (bound as decimal-from-string literal — 2^64-1 exceeds the py4j
    # long range; built lazily, lit() needs an active session)
    bound_str = str(umax)
    return lambda x: F.when(
        (_c(x).try_cast(t) >= 0)
        & (_c(x).try_cast(t) <= F.lit(bound_str).cast("decimal(38,0)")),
        _c(x).try_cast(t))


def _conv_or_zero(t: str, zero, umax: int | None = None):
    inner = _conv_or_null(t, umax)
    return lambda x: F.coalesce(inner(x), F.lit(zero).cast(t))


_CONV4 = {}
for _chn, _spt, _z, _umax in [
        ("Int8", "tinyint", 0, None), ("Int16", "smallint", 0, None),
        ("Int32", "int", 0, None), ("Int64", "bigint", 0, None),
        ("UInt8", "smallint", 0, 255), ("UInt16", "int", 0, 65535),
        ("UInt32", "bigint", 0, 4294967295),
        ("UInt64", "decimal(20,0)", 0, (1 << 64) - 1),
        ("Float32", "float", 0.0, None), ("Float64", "double", 0.0, None),
        ("Date", "date", "1970-01-01", None),
        ("Date32", "date", "1970-01-01", None),
        ("DateTime", "timestamp", "1970-01-01 00:00:00", None),
        ("DateTime64", "timestamp", "1970-01-01 00:00:00", None)]:
    _CONV4[f"to{_chn}OrNull"] = _conv_or_null(_spt, _umax)
    _CONV4[f"to{_chn}OrZero"] = _conv_or_zero(_spt, _z, _umax)
_CONV4["toDateTime32"] = lambda x: F.to_timestamp(_c(x))
_CONV4["toJSONString"] = lambda x: F.to_json(_c(x))
_CONV4["JSONArrayLength"] = lambda x: F.json_array_length(_c(x))
_CONV4["toDecimalString"] = lambda x, s: F.format_number(
    _c(x).cast("double"), F.lit(s)).cast("string")


# -------------------------------- breadth: datetime long-tail closure
# Reference: FunctionDateOrDateTimeAddInterval.h (add/subtract*
# registrations), DateTimeTransforms.h (toStartOfISOYear,
# toLastDayOfWeek, toYYYYMMDDhhmmss, toStartOf*second).  Sub-second
# carrier is µs (Spark timestamps), so nanosecond forms truncate —
# same policy as the DateTime64(3) default scale.


def _add_seconds_frac(x, n, scale: float) -> Column:
    return F.timestamp_micros(
        F.unix_micros(_c(x).cast("timestamp"))
        + (_c(n) * F.lit(scale * 1e6)).cast("long"))


_DT4 = {
    "addQuarters": lambda x, n: F.add_months(_c(x), _c(n) * 3),
    "subtractQuarters": lambda x, n: F.add_months(_c(x), -_c(n) * 3),
    "subtractWeeks": lambda x, n: F.date_sub(_c(x), _c(n) * 7),
    "subtractHours": lambda x, n: _add_seconds_frac(x, -_c(n), 3600.0),
    "subtractMinutes": lambda x, n: _add_seconds_frac(x, -_c(n), 60.0),
    "subtractSeconds": lambda x, n: _add_seconds_frac(x, -_c(n), 1.0),
    "addMilliseconds": lambda x, n: _add_seconds_frac(x, _c(n), 1e-3),
    "subtractMilliseconds": lambda x, n: _add_seconds_frac(x, -_c(n), 1e-3),
    "addMicroseconds": lambda x, n: _add_seconds_frac(x, _c(n), 1e-6),
    "subtractMicroseconds": lambda x, n: _add_seconds_frac(x, -_c(n), 1e-6),
    # µs carrier: nanoseconds round toward the containing microsecond
    "addNanoseconds": lambda x, n: _add_seconds_frac(x, _c(n), 1e-9),
    "subtractNanoseconds": lambda x, n: _add_seconds_frac(x, -_c(n), 1e-9),
    # ISO year start = Monday of the week containing January 4th of
    # the ISO year (reuses the toISOYear Thursday-shift helper)
    "toStartOfISOYear": lambda x: F.date_trunc(
        "week", F.make_date(F.year(_iso_thursday(x)),
                            F.lit(1), F.lit(4))).cast("date"),
    "toLastDayOfWeek": lambda x: F.date_add(
        F.date_trunc("week", _c(x)).cast("date"), 6),
    "toStartOfMillisecond": lambda x: F.timestamp_micros(
        (F.unix_micros(_c(x).cast("timestamp")) / 1000).cast("long") * 1000),
    "toStartOfMicrosecond": lambda x: _c(x).cast("timestamp"),
    "toStartOfNanosecond": lambda x: _c(x).cast("timestamp"),
    "toYYYYMMDDhhmmss": lambda x: F.date_format(
        _c(x), "yyyyMMddHHmmss").cast("long"),
    # streaming WINDOW VIEW helpers (src/Functions/FunctionsTimeWindow.cpp):
    # tumbleStart == toStartOfInterval; ends add one window width
    "tumbleStart": lambda x, sec: F.timestamp_seconds(
        F.floor(F.unix_timestamp(_c(x)) / _c(sec)) * _c(sec)),
    "tumbleEnd": lambda x, sec: F.timestamp_seconds(
        (F.floor(F.unix_timestamp(_c(x)) / _c(sec)) + 1) * _c(sec)),
    # hop windows: the hop-grid-aligned window containing x
    # (FunctionsTimeWindow.cpp hopStart/hopEnd)
    "hopStart": lambda x, hop_sec, win_sec=None: F.timestamp_seconds(
        F.floor(F.unix_timestamp(_c(x)) / _c(hop_sec)) * _c(hop_sec)),
    "hopEnd": lambda x, hop_sec, win_sec=None: F.timestamp_seconds(
        F.floor(F.unix_timestamp(_c(x)) / _c(hop_sec)) * _c(hop_sec)
        + _c(win_sec if win_sec is not None else hop_sec)),
    # windowID == toUInt32(tumbleEnd) (StorageWindowView.cpp)
    "windowID": lambda x, sec: (
        (F.floor(F.unix_timestamp(_c(x)) / _c(sec)) + 1) * _c(sec))
        .cast("long"),
    # LowCardinality is a storage encoding; Spark's dictionary encoding
    # is automatic in Parquet/Tungsten — the logical value is unchanged
    "toLowCardinality": lambda x: _c(x),
    "lowCardinalityKeys": lambda x: _c(x),
}


# ------------------------------------ breadth: math long-tail closure
# Reference: FunctionMathUnary.h (inverse hyperbolics), factorial.cpp,
# FunctionsBinaryArithmetic.h (gcd/lcm via checked Euclid), max2.cpp.


def _euclid_gcd(a, b) -> Column:
    """gcd by a fixed-depth Euclid fold (92 iterations covers the
    64-bit Fibonacci worst case); stays a Catalyst expression."""
    init = F.struct(F.abs(_c(a)).cast("long").alias("x"),
                    F.abs(_c(b)).cast("long").alias("y"))
    step = lambda st, _i: F.when(  # noqa: E731
        st["y"] != 0,
        F.struct(st["y"].alias("x"), F.try_mod(st["x"], st["y"]).alias("y"))
    ).otherwise(st)
    return F.aggregate(F.sequence(F.lit(1), F.lit(92)), init, step)["x"]


_MATH3 = {
    "acosh": lambda x: F.log(_c(x) + F.sqrt(_c(x) * _c(x) - 1)),
    "asinh": lambda x: F.log(_c(x) + F.sqrt(_c(x) * _c(x) + 1)),
    "atanh": lambda x: F.log((1 + _c(x)) / (1 - _c(x))) / 2,
    "hypot": lambda a, b: F.sqrt(_c(a) * _c(a) + _c(b) * _c(b)),
    "min2": lambda a, b: F.least(_c(a).cast("double"), _c(b).cast("double")),
    "max2": lambda a, b: F.greatest(_c(a).cast("double"), _c(b).cast("double")),
    # factorial throws beyond 20 in the reference; NULL here (ANSI-safe)
    "factorial": lambda n: F.when(
        (_c(n) >= 0) & (_c(n) <= 20),
        F.aggregate(F.sequence(F.lit(1).cast("long"),
                               F.greatest(_c(n).cast("long"), F.lit(1).cast("long"))),
                    F.lit(1).cast("long"), lambda acc, i: acc * i)),
    "lcm": lambda a, b: F.when(
        (_c(a) != 0) & (_c(b) != 0),
        F.abs(F.try_divide(_c(a).cast("long"), _euclid_gcd(a, b)).cast("long")
              * _c(b).cast("long"))).otherwise(0),
    "countDigits": lambda x: F.length(F.abs(_c(x)).cast("string")
                                      .substr(F.lit(1), F.instr(
                                          F.concat(F.abs(_c(x)).cast("string"),
                                                   F.lit(".")), ".") - 1)),
    "moduloLegacy": lambda a, b: F.try_mod(_c(a), _c(b)),   # modulo.cpp alias
    "throwIf": lambda c, msg="value is non-zero": F.when(
        _c(c).cast("boolean"), F.raise_error(F.lit(msg))).otherwise(F.lit(0)),
    "indexHint": lambda *xs: F.lit(True),    # planner hint: always-true
    "kql_array_sort_asc": lambda a: F.array_sort(_c(a)),
    "kql_array_sort_desc": lambda a: F.reverse(F.array_sort(_c(a))),
    "tupleConcat": lambda *xs: F.concat(*[_c(x) for x in xs]),
    "tupleHammingDistance": lambda a, b: F.aggregate(
        F.zip_with(_c(a), _c(b),
                   lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v),
    "regexpExtract": lambda s, p, g=1: F.regexp_extract(_c(s), p, g),
    "regexpQuoteMeta": lambda s: F.regexp_replace(
        _c(s), r"([\\.\[\]\{\}\(\)\*\+\?\|\^\$])", r"\\$1"),
}


# ------------------------------------- breadth: hash-alias long tail
# Reference: FunctionsHashing.h registrations.  Same mapping policy as
# cityHash64 (LIMITS.md): names whose exact bits need the native hash
# libraries map to xxhash64 — same distributional contract, different
# bits; persisted reference hash values will not match.  SHA224/SHA384
# and CRC32IEEE are bit-exact (Spark sha2/crc32 are the real
# algorithms).

_HASH3 = {
    "SHA224": lambda x: F.unhex(F.sha2(_c(x).cast("binary"), 224)),
    "SHA384": lambda x: F.unhex(F.sha2(_c(x).cast("binary"), 384)),
    "CRC32IEEE": lambda x: F.crc32(_c(x).cast("binary")),
    "CRC64": lambda x: F.xxhash64(_c(x)),          # doc-note mapping
    "murmurHash2_32": lambda *xs: F.hash(*[_c(x) for x in xs]),
    "murmurHash3_32": lambda *xs: F.hash(*[_c(x) for x in xs]),
    "murmurHash2_64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "murmurHash3_64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "murmurHash3_128": lambda x: F.unhex(F.md5(_c(x).cast("binary"))),
    "sipHash128": lambda x: F.unhex(F.md5(_c(x).cast("binary"))),
    "metroHash64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "farmFingerprint64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "wyHash64": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "xxh3": lambda *xs: F.xxhash64(*[_c(x) for x in xs]),
    "halfMD5": lambda x: F.conv(
        F.substring(F.md5(_c(x).cast("binary")), 1, 16), 16, 10)
        .cast("decimal(20,0)"),
    "gccMurmurHash": lambda *xs: F.hash(*[_c(x) for x in xs]),
    "kafkaMurmurHash": lambda *xs: F.hash(*[_c(x) for x in xs]),
    "javaHashUTF16LE": lambda s: _java_hash(s),
    "URLHash": lambda u, n=None: F.xxhash64(_c(u)),
}


# --------------------------------------- breadth: URL/MAC/XML long tail
# Reference: src/Functions/URL/ (URLHierarchy.cpp, port.cpp,
# cutURLParameter.cpp, extractURLParameterNames.cpp),
# FunctionsCodingIP.cpp:636 formatMAC (uppercase hex bytes),
# decodeXMLComponent.cpp, extractTextFromHTML.cpp.

_URL_HOST_RE = r"^[a-z0-9]+://[^/?#]+"


def _url_rest_chunks(u) -> Column:
    """Cumulative-hierarchy building blocks: (host-part, first separator,
    chunk list) per URLHierarchy.cpp's tokenizer — each chunk is
    [seps]token[one-sep]; elements end after each separator."""
    hp = F.regexp_extract(_c(u), _URL_HOST_RE, 0)
    rest = F.substr(_c(u), F.length(hp) + 1)
    sep0 = F.substring(rest, 1, 1)
    chunks = F.regexp_extract_all(F.substr(rest, F.lit(2)),
                                  F.lit(r"[/?#]*[^/?#]+[/?#]?"), 0)
    return hp, sep0, chunks


def _url_hierarchy(u) -> Column:
    hp, sep0, chunks = _url_rest_chunks(u)
    cums = F.transform(
        F.sequence(F.lit(1), F.size(chunks)),
        lambda i: F.concat(hp, sep0, F.array_join(F.slice(chunks, 1, i), "")))
    return F.when((hp != "") & (sep0 != ""),
                  F.concat(F.array(F.concat(hp, sep0)), cums)) \
            .when(hp != "", F.array(hp)) \
            .otherwise(F.array().cast("array<string>"))


def _url_path_hierarchy(u) -> Column:
    hp, sep0, chunks = _url_rest_chunks(u)
    return F.when(
        (hp != "") & (sep0 != ""),
        F.transform(F.sequence(F.lit(1), F.size(chunks)),
                    lambda i: F.concat(sep0, F.array_join(
                        F.slice(chunks, 1, i), "")))) \
        .otherwise(F.array().cast("array<string>"))


def _cut_url_parameter(u, name) -> Column:
    if isinstance(name, Column):
        raise NotImplementedError("cutURLParameter needs a literal name")
    pat = rf"(?<=[?&]){re.escape(name)}=[^&#]*&?"
    trimmed = F.regexp_replace(_c(u), pat, "")
    return F.regexp_replace(trimmed, r"[?&](#|$)", "$1")


# Common compound public suffixes; the reference consults the full
# gperf-compiled public-suffix list (tldLookup) — this subset covers
# the frequent two-level suffixes and is a documented refinement.
_COMPOUND_SUFFIXES = [
    "co.uk", "org.uk", "net.uk", "gov.uk", "ac.uk", "me.uk", "ltd.uk",
    "plc.uk", "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "com.br", "net.br",
    "org.br", "gov.br", "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.tr", "net.tr", "org.tr", "gov.tr", "co.in", "net.in",
    "org.in", "gov.in", "ac.in", "co.kr", "or.kr", "go.kr",
    "com.mx", "org.mx", "gob.mx", "co.nz", "net.nz", "org.nz",
    "co.za", "org.za", "gov.za", "com.ar", "com.sg", "com.hk",
    "com.tw", "com.my", "co.id", "co.th", "com.vn", "com.ua",
    "com.pl", "com.ru", "spb.ru", "msk.ru",
]


def _fss_extract(u, cut: bool) -> Column:
    """ExtractFirstSignificantSubdomain.h: fss = label before the last
    dot, or before a compound public suffix; cut=True keeps the suffix
    (cutToFirstSignificantSubdomain)."""
    # a dot-less `scheme:` prefix WITHOUT slashes (magnet:, mailto:)
    # has no host — the reference returns '' (ExtractDomain)
    dom = F.when(
        _c(u).rlike(r"^[A-Za-z][A-Za-z0-9+\-]*:(?!//)"), F.lit("")
    ).otherwise(F.regexp_replace(
        F.coalesce(F.parse_url(_c(u), F.lit("HOST")),
                   F.regexp_extract(
                       _c(u),
                       r"^(?:[A-Za-z][A-Za-z0-9+.\-]*://|//)?"
                       r"([^/?#:@ ]*)", 1)),
        r"^www\.", ""))
    labs = F.split(dom, r"\.")
    n = F.size(labs)
    comp = F.concat(F.element_at(labs, -2), F.lit("."),
                    F.element_at(labs, -1))
    is_comp = comp.isin(_COMPOUND_SUFFIXES) & (n >= 3)
    if cut:
        return F.coalesce((F.when(n <= 1, dom)
                .when(is_comp, F.array_join(F.slice(labs, n - 2, 3), "."))
                .otherwise(F.array_join(F.slice(labs, n - 1, 2),
                                        "."))), F.lit(""))
    # invalid/host-less input yields '' (the reference returns an
    # empty string, never NULL); single-label hosts and hosts with a
    # trailing dot also yield '' (ExtractFirstSignificantSubdomain
    # needs a non-empty TLD after the last dot)
    return F.coalesce(
        F.when(n <= 1, F.lit(""))
        .when(F.element_at(labs, -1) == "", F.lit(""))
        .when(is_comp, F.element_at(labs, -3))
        .otherwise(F.element_at(labs, -2)), F.lit(""))


def _first_significant_cut(u) -> Column:
    return _fss_extract(u, cut=True)


_XML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&apos;", "'"), ("&#39;", "'"), ("&nbsp;", " "),
                 ("&amp;", "&")]        # &amp; last so it can't re-expand


def _decode_xml(x) -> Column:
    c = _c(x)
    for ent, ch_ in _XML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch_))
    return c


def _encode_xml(x) -> Column:
    c = F.replace(_c(x), F.lit("&"), F.lit("&amp;"))
    for ent, ch_ in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&apos;", "'")]:
        c = F.replace(c, F.lit(ch_), F.lit(ent))
    return c


def _mac_byte(n, shift: int) -> Column:
    return F.upper(F.lpad(F.hex(F.shiftright(_c(n), shift)
                                .bitwiseAND(F.lit(255).cast("long"))), 2, "0"))


_URL2 = {
    "port": lambda u, d=0: F.coalesce(
        F.regexp_extract(_c(u), r"^(?:[a-z0-9]+://)?[^/?#:]+:(\d+)", 1)
        .try_cast("int"), F.lit(d).cast("int")),
    "cutWWW": lambda u: F.regexp_replace(
        _c(u), r"^((?:[a-z0-9]+://)?)www\.", "$1"),
    "queryStringAndFragment": lambda u: F.when(
        _c(u).contains("?"), F.substr(_c(u), F.instr(_c(u), "?") + 1)
    ).when(_c(u).contains("#"),
           F.substr(_c(u), F.instr(_c(u), "#"))).otherwise(F.lit("")),
    "cutQueryStringAndFragment": lambda u: F.regexp_replace(
        _c(u), r"[?#].*$", ""),
    "cutURLParameter": _cut_url_parameter,
    "extractURLParameterNames": lambda u: F.filter(
        F.transform(F.split(F.regexp_extract(_c(u), r"\?([^#]*)", 1), "&"),
                    lambda kv: F.substring_index(kv, "=", 1)),
        lambda nm: nm != ""),
    "URLHierarchy": _url_hierarchy,
    "URLPathHierarchy": _url_path_hierarchy,
    "cutToFirstSignificantSubdomain": _first_significant_cut,
    "firstLine": lambda x: F.substring_index(
        F.substring_index(_c(x), "\n", 1), "\r", 1),
    "decodeXMLComponent": _decode_xml,
    "decodeHTMLComponent": _decode_xml,
    "encodeXMLComponent": _encode_xml,
    # extractTextFromHTML.cpp: drop script/style subtrees, strip tags,
    # collapse whitespace
    "extractTextFromHTML": lambda x: F.trim(F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                _c(x), r"(?is)<(script|style)\b.*?</\1\s*>", " "),
            r"(?s)<[^>]*>", " "),
        r"\s+", " ")),
    "MACNumToString": lambda n: F.concat_ws(
        ":", _mac_byte(n, 40), _mac_byte(n, 32), _mac_byte(n, 24),
        _mac_byte(n, 16), _mac_byte(n, 8), _mac_byte(n, 0)),
    "MACStringToNum": lambda s: F.conv(
        F.regexp_replace(_c(s), ":", ""), 16, 10).cast("long"),
    "MACStringToOUI": lambda s: F.conv(
        F.substring(F.regexp_replace(_c(s), ":", ""), 1, 6), 16, 10)
        .cast("long"),
    "IPv4ToIPv6": lambda n: F.unhex(F.concat(
        F.lit("00000000000000000000ffff"),
        F.lpad(F.lower(F.hex(_c(n).cast("long"))), 8, "0"))),
    "IPv4NumToStringClassC": lambda n: F.concat_ws(
        ".",
        (_c(n) / 16777216).cast("long") % 256,
        (_c(n) / 65536).cast("long") % 256,
        (_c(n) / 256).cast("long") % 256, F.lit("xxx")),
    "UUIDToNum": lambda u: F.unhex(F.regexp_replace(_c(u), "-", "")),
    "UUIDNumToString": lambda b: F.lower(F.concat_ws(
        "-",
        F.substring(F.hex(_c(b)), 1, 8), F.substring(F.hex(_c(b)), 9, 4),
        F.substring(F.hex(_c(b)), 13, 4), F.substring(F.hex(_c(b)), 17, 4),
        F.substring(F.hex(_c(b)), 21, 12))),
}
_URL2 = {k: v for k, v in _URL2.items() if v is not None}


# ----------------------- breadth: scalar text-hash (minhash/simhash)
# Reference: src/Functions/FunctionsStringHash.cpp — ngram/wordShingle
# SimHash (Charikar fingerprint over char n-grams / word k-shingles)
# and MinHash (Tuple(UInt64,UInt64): combine of the k smallest /
# k largest distinct shingle hashes; Arg variants return the shingles
# themselves).  Hash primitive is xxhash64 (LIMITS.md cityHash policy:
# same contract, different bits); UTF8 variants coincide because Spark
# strings are already unicode.

from clickhouse_core_spark.pipeline.dedup import simhash64_expr  # noqa: E402


def _word_shingles(s, k: int = 3) -> Column:
    toks = F.filter(F.split(_c(s), r"[^\p{L}\p{N}]+"), lambda t: t != "")
    return F.when(
        F.size(toks) >= k,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                    lambda i: F.array_join(F.slice(toks, i, k), " "))) \
        .otherwise(F.when(F.size(toks) > 0,
                          F.array(F.array_join(toks, " ")))
                   .otherwise(F.array().cast("array<string>")))


def _minhash_tuple(shingles: Column, hashnum: int = 6) -> Column:
    hs = F.array_sort(F.array_distinct(
        F.transform(shingles, lambda t: F.xxhash64(t))))
    lo = F.slice(hs, 1, hashnum)
    hi = F.reverse(F.slice(hs, F.greatest(
        F.size(hs) - (hashnum - 1), F.lit(1)), hashnum))
    combine = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, h: F.xxhash64(acc, h))
    return F.struct(combine(lo).alias("h1"), combine(hi).alias("h2"))


def _minhash_arg_tuple(shingles: Column, hashnum: int = 6) -> Column:
    ranked = F.array_sort(F.array_distinct(
        F.transform(shingles,
                    lambda t: F.struct(F.xxhash64(t).alias("h"),
                                       t.alias("s")))))
    lo = F.transform(F.slice(ranked, 1, hashnum), lambda x: x["s"])
    hi = F.transform(F.reverse(F.slice(ranked, F.greatest(
        F.size(ranked) - (hashnum - 1), F.lit(1)), hashnum)),
        lambda x: x["s"])
    return F.struct(lo.alias("min_args"), hi.alias("max_args"))


def _ngrams_of(s, n, ci: bool) -> Column:
    src = F.lower(_c(s)) if ci else _c(s)
    n = n if not isinstance(n, Column) else 4
    # strings shorter than n have no n-grams (sequence(1,0) counts DOWN
    # in Spark, which would fabricate two empty grams)
    return F.when(F.length(src) >= n, _char_ngrams(src, n)) \
            .otherwise(F.array().cast("array<string>"))


_TEXTHASH = {}
for _vn, _ci in [("", False), ("CaseInsensitive", True),
                 ("UTF8", False), ("CaseInsensitiveUTF8", True)]:
    _TEXTHASH[f"ngramSimHash{_vn}"] = (
        lambda s, n=4, ci=_ci: simhash64_expr(_ngrams_of(s, n, ci)))
    _TEXTHASH[f"wordShingleSimHash{_vn}"] = (
        lambda s, k=3, ci=_ci: simhash64_expr(
            _word_shingles(F.lower(_c(s)) if ci else s, k)))
    _TEXTHASH[f"ngramMinHash{_vn}"] = (
        lambda s, n=4, hashnum=6, ci=_ci: _minhash_tuple(
            _ngrams_of(s, n, ci), hashnum))
    _TEXTHASH[f"wordShingleMinHash{_vn}"] = (
        lambda s, k=3, hashnum=6, ci=_ci: _minhash_tuple(
            _word_shingles(F.lower(_c(s)) if ci else s, k), hashnum))
    _TEXTHASH[f"ngramMinHashArg{_vn}"] = (
        lambda s, n=4, hashnum=6, ci=_ci: _minhash_arg_tuple(
            _ngrams_of(s, n, ci), hashnum))
    _TEXTHASH[f"wordShingleMinHashArg{_vn}"] = (
        lambda s, k=3, hashnum=6, ci=_ci: _minhash_arg_tuple(
            _word_shingles(F.lower(_c(s)) if ci else s, k), hashnum))


# ------------------- breadth: IP ranges, readable parses, bit curves
# Reference: src/Functions/isIPAddressContainedIn.cpp,
# FunctionsCodingIP.cpp (IPv6CIDRToRange, cutIPv6),
# parseReadableSize.cpp, parseTimeDelta.cpp, mortonEncode.cpp.


def _ip4_in_range(addr_num: Column, pfx_num: Column, bits: Column) -> Column:
    shift = (32 - bits).cast("int")
    sru = lambda c: F.call_function("shiftrightunsigned", c, shift)  # noqa: E731
    return (sru(addr_num) == sru(pfx_num)) | (bits == 0)


def _ip6_in_range(addr_hex: Column, pfx_hex: Column, bits: Column) -> Column:
    nib = F.floor(bits / 4).cast("int")
    rem = (bits % 4).cast("int")
    whole = (F.substring(addr_hex, F.lit(1), nib)
             == F.substring(pfx_hex, F.lit(1), nib))
    a_nib = F.conv(F.substring(addr_hex, nib + 1, F.lit(1)), 16, 10).cast("int")
    p_nib = F.conv(F.substring(pfx_hex, nib + 1, F.lit(1)), 16, 10).cast("int")
    part = F.when(rem == 0, F.lit(True)).otherwise(
        F.call_function("shiftright", a_nib, (4 - rem).cast("int"))
        == F.call_function("shiftright", p_nib, (4 - rem).cast("int")))
    return whole & part


def _is_ip_in_range(addr, cidr) -> Column:
    a, c = _c(addr), _c(cidr)
    pfx = F.substring_index(c, "/", 1)
    bits = F.substring_index(c, "/", -1).try_cast("int")
    v4 = _ip4_in_range(
        CH_FUNCTIONS["IPv4StringToNum"](a).cast("long"),
        CH_FUNCTIONS["IPv4StringToNum"](pfx).cast("long"), bits)
    v6 = _ip6_in_range(F.lower(F.hex(_ipv6_string_to_num(a))),
                       F.lower(F.hex(_ipv6_string_to_num(pfx))), bits)
    return F.when(c.contains(":") | a.contains(":"), v6) \
            .otherwise(v4).cast("int")


def _morton_encode(x, y) -> Column:
    """mortonEncode(x, y): bit-interleave two 32-bit coordinates into a
    64-bit Z-curve index — pure bitwise fold, no overflow possible."""
    xs, ys = _c(x).cast("long"), _c(y).cast("long")
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(31)), F.lit(0).cast("long"),
        lambda acc, i: acc
        .bitwiseOR(F.call_function(
            "shiftleft", F.call_function("shiftright", xs, i)
            .bitwiseAND(F.lit(1).cast("long")), i * 2))
        .bitwiseOR(F.call_function(
            "shiftleft", F.call_function("shiftright", ys, i)
            .bitwiseAND(F.lit(1).cast("long")), i * 2 + 1)))


def _morton_part(code, parity: int) -> Column:
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(31)), F.lit(0).cast("long"),
        lambda acc, i: acc.bitwiseOR(F.call_function(
            "shiftleft",
            F.call_function("shiftright", _c(code), i * 2 + parity)
            .bitwiseAND(F.lit(1).cast("long")), i)))


# Hilbert 2-D curve, bit-exact vs the reference's LUT walk
# (src/Functions/hilbertEncode2DLUT.h / hilbertDecode2DLUT.h, bit_step=1
# tables).  The reference runs used_bits iterations with a
# parity-dependent initial state; padding to a FIXED 32 iterations from
# the LEFT state is equivalent (a zero step from state 0<->4 emits zero
# bits and toggles the state, landing on exactly the reference's initial
# state after the pad) — so the fold below unrolls to constant depth.
_HILBERT_ENC_LUT = (4, 1, 11, 2, 0, 15, 5, 6, 10, 9, 3, 12, 14, 7, 13, 8)
_HILBERT_DEC_LUT = (4, 1, 3, 10, 0, 6, 7, 13, 15, 9, 8, 2, 11, 14, 12, 5)


def _hilbert_encode_2d(x, y) -> Column:
    """hilbertEncode(x, y) -> UInt64 code (long two's-complement
    carrier).  Bitwise OR accumulation — no arithmetic overflow, so
    ANSI-safe up to the full 32-bit coordinate range."""
    xs, ys = _c(x).cast("long"), _c(y).cast("long")
    lut = F.array(*[F.lit(v) for v in _HILBERT_ENC_LUT])
    init = F.struct(F.lit(0).cast("long").alias("code"),
                    F.lit(4).alias("st"))

    def step(acc, sh):
        xb = (F.call_function("shiftright", xs, sh)
              .bitwiseAND(F.lit(1).cast("long"))).cast("int")
        yb = (F.call_function("shiftright", ys, sh)
              .bitwiseAND(F.lit(1).cast("long"))).cast("int")
        t = F.element_at(lut, acc["st"] + xb * 2 + yb + 1)
        return F.struct(
            acc["code"].bitwiseOR(F.call_function(
                "shiftleft", (t % 4).cast("long"), sh * 2)).alias("code"),
            (t - t % 4).alias("st"))

    res = F.aggregate(F.sequence(F.lit(31), F.lit(0), F.lit(-1)), init,
                      step, lambda acc: acc["code"])
    # reference returns 0 for coordinates wider than 32 bits
    out_of_range = (xs < 0) | (ys < 0) | \
        (xs.bitwiseOR(ys) >= F.lit(1 << 32).cast("long"))
    return F.when(out_of_range, F.lit(0).cast("long")).otherwise(res)


def _hilbert_decode_2d(code) -> Column:
    """hilbertDecode(2, code) -> (x, y) struct.  Accepts long or the
    decimal(20,0) UInt64 carrier; the full unsigned range decodes via
    logical (unsigned) chunk shifts."""
    d = _c(code).cast("decimal(21,0)")
    signed = F.when(
        d >= F.lit("9223372036854775808").cast("decimal(21,0)"),
        (d - F.lit("18446744073709551616").cast("decimal(22,0)"))
        .cast("long")).otherwise(d.cast("long"))
    lut = F.array(*[F.lit(v) for v in _HILBERT_DEC_LUT])
    init = F.struct(F.lit(0).cast("long").alias("x"),
                    F.lit(0).cast("long").alias("y"),
                    F.lit(4).alias("st"))

    def step(acc, i):
        hb = (F.call_function("shiftrightunsigned", signed, i * 2)
              .bitwiseAND(F.lit(3).cast("long"))).cast("int")
        t = F.element_at(lut, acc["st"] + hb + 1)
        xb = F.shiftright(t % 4, 1).cast("long")
        yb = (t % 2).cast("long")
        return F.struct(
            acc["x"].bitwiseOR(
                F.call_function("shiftleft", xb, i)).alias("x"),
            acc["y"].bitwiseOR(
                F.call_function("shiftleft", yb, i)).alias("y"),
            (t - t % 4).alias("st"))

    return F.aggregate(
        F.sequence(F.lit(31), F.lit(0), F.lit(-1)), init, step,
        lambda acc: F.struct(acc["x"].alias("x"), acc["y"].alias("y")))


_READABLE_UNITS = [
    ("kib", 1024.0), ("mib", 1024.0 ** 2), ("gib", 1024.0 ** 3),
    ("tib", 1024.0 ** 4), ("pib", 1024.0 ** 5), ("eib", 1024.0 ** 6),
    ("kb", 1e3), ("mb", 1e6), ("gb", 1e9), ("tb", 1e12), ("pb", 1e15),
    ("eb", 1e18), ("b", 1.0),
]


def _parse_readable_size(x) -> Column:
    s = F.trim(F.lower(_c(x)))
    num = F.regexp_extract(s, r"^([0-9]*\.?[0-9]+)", 1).try_cast("double")
    unit = F.trim(F.regexp_extract(s, r"^[0-9]*\.?[0-9]+\s*([a-z]+)$", 1))
    mult = F.lit(None).cast("double")
    for u, m in _READABLE_UNITS:
        mult = F.when(unit == u, F.lit(m)).otherwise(mult)
    return F.ceil(num * mult).try_cast("decimal(20,0)")


_TIMEDELTA_SECONDS = [
    ("years", 365 * 86400.0), ("year", 365 * 86400.0), ("yr", 365 * 86400.0),
    ("y", 365 * 86400.0),
    ("months", 30.5 * 86400.0), ("month", 30.5 * 86400.0),
    ("weeks", 7 * 86400.0), ("week", 7 * 86400.0), ("w", 7 * 86400.0),
    ("days", 86400.0), ("day", 86400.0), ("d", 86400.0),
    ("hours", 3600.0), ("hour", 3600.0), ("hr", 3600.0), ("h", 3600.0),
    ("minutes", 60.0), ("minute", 60.0), ("min", 60.0), ("m", 60.0),
    ("milliseconds", 1e-3), ("millisecond", 1e-3), ("ms", 1e-3),
    ("microseconds", 1e-6), ("microsecond", 1e-6), ("us", 1e-6),
    ("nanoseconds", 1e-9), ("nanosecond", 1e-9), ("ns", 1e-9),
    ("seconds", 1.0), ("second", 1.0), ("sec", 1.0), ("s", 1.0),
]


def _parse_time_delta(x) -> Column:
    """parseTimeDelta('1 hour 30 minutes' / '1h30m') -> seconds
    (parseTimeDelta.cpp unit table, months = 30.5 d, years = 365 d)."""
    s = F.lower(_c(x))
    pairs = F.regexp_extract_all(
        s, F.lit(r"([0-9]*\.?[0-9]+)\s*([a-z]+)"), 0)

    def to_sec(p):
        num = F.regexp_extract(p, r"([0-9]*\.?[0-9]+)", 1).cast("double")
        unit = F.regexp_extract(p, r"([a-z]+)$", 1)
        mult = F.lit(None).cast("double")
        for u, m in _TIMEDELTA_SECONDS:
            mult = F.when(unit == u, F.lit(m)).otherwise(mult)
        return num * mult

    return F.aggregate(pairs, F.lit(0.0), lambda acc, p: acc + to_sec(p))


def _byte_swap(x, nbytes: int = 8) -> Column:
    """byteSwap on an nbytes-wide integer (byteSwap.cpp; width is the
    value's type in the reference — explicit here, default 64-bit)."""
    v = _c(x).cast("long")
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(nbytes - 1)), F.lit(0).cast("long"),
        lambda acc, i: acc.bitwiseOR(F.call_function(
            "shiftleft",
            F.call_function("shiftright", v, i * 8)
            .bitwiseAND(F.lit(255).cast("long")),
            (nbytes - 1) * 8 - i * 8)))


_IPRANGE = {
    "isIPAddressInRange": _is_ip_in_range,
    "IPv6CIDRToRange": lambda a, bits: F.struct(
        _ipv6_cidr_bound(a, bits, low=True).alias("lo"),
        _ipv6_cidr_bound(a, bits, low=False).alias("hi")),
    "cutIPv6": lambda a, bytes_v6=0, bytes_v4=0: _ipv6_num_to_string(
        F.unhex(F.concat(
            F.substring(F.lower(F.hex(_c(a))), 1, 32 - int(bytes_v6) * 2),
            F.lit("0" * (int(bytes_v6) * 2))))),
    "parseReadableSize": _parse_readable_size,
    "parseReadableSizeOrNull": _parse_readable_size,
    "parseReadableSizeOrZero": lambda x: F.coalesce(
        _parse_readable_size(x), F.lit(0).cast("decimal(20,0)")),
    "parseTimeDelta": _parse_time_delta,
    "mortonEncode": _morton_encode,
    "mortonDecode": lambda n, code: F.struct(
        _morton_part(code, 0).alias("x"), _morton_part(code, 1).alias("y")),
    "hilbertEncode": lambda x, y=None: (
        _c(x).cast("long") if y is None else _hilbert_encode_2d(x, y)),
    "hilbertDecode": lambda n, code: _hilbert_decode_2d(code),
    "byteSwap": _byte_swap,
    "rowNumberInAllBlocks": None,   # window op: operators/windows.py
}
_IPRANGE = {k: v for k, v in _IPRANGE.items() if v is not None}


def _ipv6_cidr_bound(a, bits, low: bool) -> Column:
    """128-bit CIDR bound via hex-nibble arithmetic (no int128)."""
    h = F.lower(F.hex(_c(a)))
    bits_c = _c(bits).cast("int") if isinstance(bits, Column) else F.lit(int(bits))
    nib = F.floor(bits_c / 4).cast("int")
    rem = (bits_c % 4).cast("int")
    keep = F.substring(h, F.lit(1), nib)
    a_nib = F.conv(F.substring(h, nib + 1, F.lit(1)), 16, 10).cast("int")
    mask_hi = F.lit(15) - (F.call_function(
        "shiftleft", F.lit(1), (4 - rem)) - 1)     # high `rem` bits of nibble
    part = F.when(rem == 0, F.lit("")).otherwise(F.lower(F.hex(
        a_nib.bitwiseAND(mask_hi)
        + (F.lit(0) if low else (F.call_function(
            "shiftleft", F.lit(1), (4 - rem)) - 1)))))
    fill_len = (F.lit(32) - nib - F.when(rem == 0, 0).otherwise(1)).cast("int")
    fill = F.substring(F.lit(("0" if low else "f") * 32), F.lit(1), fill_len)
    return F.unhex(F.concat(keep, part, fill))


# ----------------------------- breadth: misc closure (round 4 tail)
# Reference: dateTrunc.cpp, FunctionBase64Conversion.h (URL alphabet),
# base32 (FunctionBase32Conversion), erf/erfc (FunctionMathUnary.h),
# URL form-encoding, accurateCastOrDefault.

_B32_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def _base32_encode(x) -> Column:
    """RFC 4648 base32 over the input bytes: 5-byte groups -> 8 chars,
    '=' padding — one Catalyst fold over the hex representation."""
    h = F.hex(_c(x).cast("binary"))
    nbytes = F.length(h) / 2
    ngroups = F.ceil(nbytes / 5).cast("int")
    alphabet = F.lit(_B32_ALPHABET)

    def group_exact(g):
        chunk = F.rpad(F.substring(h, (g - 1) * 10 + 1, 10), 10, "0")
        v = F.conv(chunk, 16, 10).cast("long")   # < 2^40: fits a long
        used = F.least(nbytes - (g - 1) * 5, F.lit(5).cast("double"))
        nchars = F.ceil(used * 8 / 5).cast("int")
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(7)), F.lit(""),
            lambda acc, j: F.concat(acc, F.when(
                j < nchars,
                F.substring(alphabet,
                            F.call_function("shiftright", v,
                                            (35 - j * 5).cast("int"))
                            .bitwiseAND(F.lit(31).cast("long")).cast("int") + 1,
                            1)).otherwise(F.lit("="))))

    # sequence(1, 0) counts DOWN in Spark: guard the empty input
    return F.when(ngroups >= 1, F.aggregate(
        F.sequence(F.lit(1), ngroups), F.lit(""),
        lambda acc, g: F.concat(acc, group_exact(g)))).otherwise(F.lit(""))


def _base32_decode(x, lenient: bool = False) -> Column:
    s = F.upper(F.regexp_replace(_c(x), "=+$", ""))
    ngroups = F.ceil(F.length(s) / 8).cast("int")

    def group_hex(g):
        chunk = F.substring(s, (g - 1) * 8 + 1, 8)
        nchars = F.length(chunk)
        v = F.aggregate(
            F.sequence(F.lit(1), F.lit(8)), F.lit(0).cast("long"),
            lambda acc, j: F.when(
                j <= nchars,
                acc * 32 + (F.instr(F.lit(_B32_ALPHABET),
                                    F.substring(chunk, j, 1)) - 1))
            .otherwise(acc * 32))
        nbytes = F.floor(nchars * 5 / 8).cast("int")
        return F.substring(F.lpad(F.hex(v), 10, "0"), 1, nbytes * 2)

    hexstr = F.when(ngroups >= 1, F.aggregate(
        F.sequence(F.lit(1), ngroups), F.lit(""),
        lambda acc, g: F.concat(acc, group_hex(g)))).otherwise(F.lit(""))
    return F.unhex(hexstr).cast("string")


def _erf_expr(x) -> Column:
    """erf via the Abramowitz–Stegun 7.1.26 rational approximation
    (|error| <= 1.5e-7 — documented divergence from libm's last-ULP
    in LIMITS.md; erfc = 1 - erf)."""
    v = F.abs(_c(x).cast("double"))
    t = 1.0 / (1.0 + 0.3275911 * v)
    poly = t * (0.254829592 + t * (-0.284496736 + t * (
        1.421413741 + t * (-1.453152027 + t * 1.061405429))))
    res = 1.0 - poly * F.exp(-v * v)
    return F.signum(_c(x)) * res


# Lanczos approximation (g=7, 9 terms — Numerical Recipes / Boost public
# coefficients): |rel error| < 1e-13 over the real line away from poles.
# Reference registers lgamma/tgamma via libm (src/Functions/FunctionMathUnary.h
# registrations lgamma.cpp, tgamma.cpp); documented near-libm divergence.
_LANCZOS_G = 7.0
_LANCZOS = (0.99999999999980993, 676.5203681218851, -1259.1392167224028,
            771.32342877765313, -176.61502916214059, 12.507343278686905,
            -0.13857109526572012, 9.9843695780195716e-6,
            1.5056327351493116e-7)


def _lgamma_pos(z: Column) -> Column:
    """ln Γ(z) for z >= 0.5 via Lanczos; z is a double Column."""
    zm1 = z - 1.0
    a = F.lit(_LANCZOS[0])
    for i in range(1, 9):
        a = a + F.lit(_LANCZOS[i]) / (zm1 + float(i))
    t = zm1 + _LANCZOS_G + 0.5
    return (F.lit(0.9189385332046727)  # 0.5*ln(2π)
            + (zm1 + 0.5) * F.log(t) - t + F.log(a))


def _lgamma_expr(x) -> Column:
    """lgamma = ln|Γ(x)|; reflection ln(π/|sin(πx)|) − lnΓ(1−x) for
    x < 0.5.  Poles (non-positive integers) yield NULL (Spark log(0)),
    not ±inf — documented divergence."""
    v = _c(x).cast("double")
    refl = (F.lit(1.1447298858494002)  # ln(π)
            - F.log(F.abs(F.sin(F.lit(_math.pi) * v)))
            - _lgamma_pos(1.0 - v))
    return F.when(v >= 0.5, _lgamma_pos(v)).otherwise(refl)


def _tgamma_expr(x) -> Column:
    """Γ(x) = exp(lnΓ(x)); x < 0.5 via the sign-carrying reflection
    Γ(x) = π / (sin(πx) · Γ(1−x)) — try_divide keeps poles NULL under
    ANSI sessions."""
    v = _c(x).cast("double")
    refl = F.try_divide(
        F.lit(_math.pi),
        F.sin(F.lit(_math.pi) * v) * F.exp(_lgamma_pos(1.0 - v)))
    return F.when(v >= 0.5, F.exp(_lgamma_pos(v))).otherwise(refl)


# factorial(n): exact UInt64 for 0..20 (src/Functions/factorial.cpp —
# the reference errors above 20; here out-of-range -> NULL)
def _factorial_expr(x) -> Column:
    n = _c(x).cast("long")
    out = F.when(n == 0, F.lit(1).cast("long"))
    for i in range(1, 21):
        out = out.when(n == i, F.lit(_math.factorial(i)).cast("long"))
    return out


_MISC4 = {
    "lgamma": _lgamma_expr,
    "tgamma": _tgamma_expr,
    "gamma": _tgamma_expr,
    "factorial": _factorial_expr,
    "dateTrunc": lambda unit, x: F.date_trunc(
        unit if isinstance(unit, str) else unit, _c(x)),
    "base64URLEncode": lambda x: F.regexp_replace(F.translate(
        F.base64(_c(x).cast("binary")), "+/", "-_"), "=+$", ""),
    "base64URLDecode": lambda x: F.unbase64(F.rpad(
        F.translate(_c(x), "-_", "+/"),
        (F.ceil(F.length(_c(x)) / 4) * 4).cast("int"), "=")).cast("string"),
    "tryBase64URLDecode": lambda x: F.unbase64(F.rpad(
        F.translate(_c(x), "-_", "+/"),
        (F.ceil(F.length(_c(x)) / 4) * 4).cast("int"), "=")).cast("string"),
    "base32Encode": _base32_encode,
    "base32Decode": _base32_decode,
    "tryBase32Decode": _base32_decode,
    "erf": _erf_expr,
    "erfc": lambda x: 1.0 - _erf_expr(x),
    "decodeURLFormComponent": lambda x: F.url_decode(
        F.regexp_replace(_c(x), r"\+", "%20")),
    "encodeURLFormComponent": lambda x: F.regexp_replace(
        F.url_encode(_c(x)), "%20", "+"),
    "accurateCastOrDefault": lambda x, t, d=None: F.coalesce(
        _c(x).try_cast(_CH_TYPE_TO_SPARK.get(t.lower().strip(), t)),
        (_c(d) if d is not None else F.lit(0))
        .cast(_CH_TYPE_TO_SPARK.get(t.lower().strip(), t))),
    "unbin": lambda x: F.unhex(F.lpad(F.lower(F.hex(
        F.conv(_c(x), 2, 10).cast("long"))),
        (F.ceil(F.length(_c(x)) / 8) * 2).cast("int"), "0")).cast("string"),
    "toStringCutToZero": lambda x: F.substring_index(
        _c(x).cast("string"), "\x00", 1),
}


# -------------- breadth: JSON path scalars, z-test, series, NLP shims
# Reference: src/Functions/JSONPaths? (JSONAllPaths* register in
# src/Functions/FunctionsJSONPaths.cpp), ztest.cpp,
# seriesOutliersDetectTukey.cpp, FunctionsTextClassification.h.

import statistics as _statistics  # noqa: E402

from clickhouse_core_spark.pipeline.text import (  # noqa: E402
    _STOPWORDS as _LANG_STOPWORDS, _tokens as _lang_tokens)


def _json_level_entries(entries: Column, depth: int) -> list[Column]:
    """Bounded-depth JSON path walk as one expression per level:
    entries = array<struct<key,value>> with dotted prefixes."""
    levels = [entries]
    for _ in range(depth - 1):
        nested = F.filter(levels[-1], lambda e: e["value"].rlike(r"^\s*\{"))
        nxt = F.flatten(F.transform(
            nested,
            lambda e: F.transform(
                F.map_entries(F.from_json(e["value"], "map<string,string>")),
                lambda e2: F.struct(
                    F.concat(e["key"], F.lit("."), e2["key"]).alias("key"),
                    e2["value"].alias("value")))))
        levels.append(nxt)
    return levels


def _json_all_paths(j, depth: int = 3, with_types: bool = False) -> Column:
    root = F.map_entries(F.from_json(_c(j), "map<string,string>"))
    levels = _json_level_entries(root, depth)
    allp = F.concat(*levels)
    if not with_types:
        return F.array_sort(F.transform(allp, lambda e: e["key"]))
    return F.map_from_entries(F.array_sort(F.transform(
        allp, lambda e: F.struct(e["key"].alias("k"),
                                 _jtype_scalar(e["value"]).alias("t")))))


def _jtype_scalar(v: Column) -> Column:
    return (F.when(v.isNull(), "Null")
            .when(v.rlike(r"^\s*\{"), "Object")
            .when(v.rlike(r"^\s*\["), "Array")
            .when(v.isin("true", "false"), "Bool")
            .when(v.rlike(r"^-?\d+$"), "Int64")
            .when(v.rlike(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$"), "Float64")
            .otherwise("String"))


def _proportions_ztest(sx, sy, tx, ty, conf=0.95, usevar: str = "unpooled") -> Column:
    """proportionsZTest (ztest.cpp:145-210): z statistic, two-sided
    p-value and CI for the difference of two proportions.  The normal
    quantile for the CI is computed driver-side from the literal
    confidence level; the p-value CDF uses the erf approximation."""
    sx, sy = _c(sx).cast("double"), _c(sy).cast("double")
    tx, ty = _c(tx).cast("double"), _c(ty).cast("double")
    px, py = sx / tx, sy / ty
    diff = px - py
    se = F.sqrt(px * (1 - px) / tx + py * (1 - py) / ty)
    if usevar == "unpooled":
        z = diff / se
    else:
        pp = (sx + sy) / (tx + ty)
        z = diff / F.sqrt(pp * (1 - pp) * (1 / tx + 1 / ty))
    # p = 2*(1 - Phi(|z|)) = erfc(|z|/sqrt(2))
    p = 1.0 - _erf_expr(F.abs(z) / F.lit(_math.sqrt(2.0)))
    zq = _statistics.NormalDist().inv_cdf(1.0 - (1.0 - float(conf)) / 2.0)
    bad = (sx == 0) | (sy == 0) | (sx > tx) | (sy > ty) | (tx + ty == 0)
    nanlit = F.lit(float("nan"))
    mk = lambda c: F.when(bad, nanlit).otherwise(c)  # noqa: E731
    return F.struct(mk(z).alias("z_statistic"), mk(p).alias("p_value"),
                    mk(diff - zq * se).alias("confidence_interval_low"),
                    mk(diff + zq * se).alias("confidence_interval_high"))


def _tukey_quantile(sorted_arr: Column, n: Column, p: float) -> Column:
    pp = n.cast("double") * F.lit(float(p))
    idx = pp.cast("long")
    exact = pp == F.floor(pp)
    return F.when(
        exact, (F.element_at(sorted_arr, idx.cast("int"))
                + F.element_at(sorted_arr, (idx + 1).cast("int"))) / 2.0) \
        .otherwise(F.element_at(sorted_arr, F.ceil(pp).cast("int")))


def _series_outliers_tukey(arr, min_p: float = 0.25, max_p: float = 0.75,
                           k: float = 1.5) -> Column:
    """seriesOutliersDetectTukey: per-element outlier score
    min(x - lower_fence, 0) + max(x - upper_fence, 0) with the
    reference's exact quantile-index rule (<4 points -> NULL instead of
    the reference's exception — ANSI-safe policy)."""
    a = F.transform(_c(arr), lambda x: x.cast("double"))
    s = F.array_sort(a)
    n = F.size(a)
    q1 = _tukey_quantile(s, n, min_p)
    q2 = _tukey_quantile(s, n, max_p)
    lower = q1 - F.lit(float(k)) * (q2 - q1)
    upper = q2 + F.lit(float(k)) * (q2 - q1)
    return F.when(n >= 4, F.transform(
        a, lambda x: F.least(x - lower, F.lit(0.0))
        + F.greatest(x - upper, F.lit(0.0))))


def _detect_language(s) -> Column:
    """detectLanguage (FunctionsTextClassification.h): the same
    stopword-vote heuristic as pipeline.text.with_language_id — the
    reference uses FastText models (not in this container); LIMITS.md."""
    toks = _lang_tokens(_c(s))
    entries = []
    for prio, (lang, words) in enumerate(sorted(_LANG_STOPWORDS.items())):
        arr = F.array(*[F.lit(w) for w in words])

        def contains_in(a):
            return lambda t: F.array_contains(a, t)

        hits = F.size(F.filter(toks, contains_in(arr)))
        entries.append(F.struct(hits.alias("hits"), F.lit(-prio).alias("prio"),
                                F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*entries))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


_MISC5 = {
    "JSONAllPaths": lambda j: _json_all_paths(j, 3, False),
    "JSONAllPathsWithTypes": lambda j: _json_all_paths(j, 3, True),
    # Dynamic maps to JSON strings in this engine (SURVEY §1.2), so the
    # Dynamic/SharedData path introspection coincides with JSONAllPaths
    "JSONDynamicPaths": lambda j: _json_all_paths(j, 3, False),
    "JSONDynamicPathsWithTypes": lambda j: _json_all_paths(j, 3, True),
    "JSONSharedDataPaths": lambda j: _json_all_paths(j, 3, False),
    "JSONSharedDataPathsWithTypes": lambda j: _json_all_paths(j, 3, True),
    "proportionsZTest": _proportions_ztest,
    "seriesOutliersDetectTukey": _series_outliers_tukey,
    "detectLanguage": _detect_language,
    "detectLanguageUnknown": _detect_language,
    # charset of Spark strings is always UTF-8 once parsed
    "detectCharset": lambda s: F.lit("UTF-8"),
    # theta-sketch set algebra (uniqTheta*.cpp); states are DataSketches
    # binaries from operators.sketches.uniq_theta_state
    "uniqThetaUnion": lambda a, b: F.theta_union(_c(a), _c(b)),
    "uniqThetaIntersect": lambda a, b: F.theta_intersection(_c(a), _c(b)),
    "uniqThetaNot": lambda a, b: F.theta_difference(_c(a), _c(b)),
}


# ------------------------------ breadth: reinterpret / partial sort
# Reference: src/Functions/reinterpretAs.cpp — reinterpret the raw
# little-endian bytes of a value as another fixed-width type.  String
# bytes come from encode(s, UTF-8); integers narrow/sign-wrap via cast.


def _le_bytes_to_long(s, width: int) -> Column:
    h = F.lower(F.hex(F.encode(_c(s).cast("string"), "UTF-8")))

    def byte_at(i: int) -> Column:
        b = F.substring(h, i * 2 + 1, 2)
        return F.when(b == "", F.lit(0).cast("long")) \
                .otherwise(F.conv(b, 16, 10).cast("long"))

    acc = F.lit(0).cast("long")
    for i in range(width):
        acc = acc.bitwiseOR(F.call_function(
            "shiftleft", byte_at(i), F.lit(i * 8)))
    return acc


def _long_to_le_string(n, trim: bool) -> Column:
    v = _c(n).cast("long")
    h = F.concat(*[
        F.lpad(F.lower(F.hex(F.call_function("shiftright", v, F.lit(i * 8))
                             .bitwiseAND(F.lit(255).cast("long")))), 2, "0")
        for i in range(8)])
    if trim:
        h = F.regexp_replace(h, "(00)+$", "")
    return F.unhex(h).cast("string")


_REINTERP = {
    "reinterpretAsUInt8": lambda s: _le_bytes_to_long(s, 1).cast("smallint"),
    "reinterpretAsUInt16": lambda s: _le_bytes_to_long(s, 2).cast("int"),
    "reinterpretAsUInt32": lambda s: _le_bytes_to_long(s, 4).cast("bigint"),
    "reinterpretAsUInt64": lambda s: _le_bytes_to_long(s, 8),
    "reinterpretAsInt8": lambda s: _le_bytes_to_long(s, 1).cast("tinyint"),
    "reinterpretAsInt16": lambda s: _le_bytes_to_long(s, 2).cast("smallint"),
    "reinterpretAsInt32": lambda s: _le_bytes_to_long(s, 4).cast("int"),
    "reinterpretAsInt64": lambda s: _le_bytes_to_long(s, 8),
    "reinterpretAsString": lambda n: _long_to_le_string(n, trim=True),
    "reinterpretAsFixedString": lambda n: _long_to_le_string(n, trim=False),
    "reinterpretAsDate": lambda s: F.date_add(
        F.lit("1970-01-01").cast("date"),
        _le_bytes_to_long(s, 2).cast("int")),
    "reinterpretAsDateTime": lambda s: F.timestamp_seconds(
        _le_bytes_to_long(s, 4)),
    # arrayPartialSort: the reference sorts the first `limit` positions
    # and leaves the rest arbitrary (arrayPartialSort.cpp); a full sort
    # satisfies that contract deterministically
    "arrayPartialSort": lambda limit, a: F.array_sort(_c(a)),
    "arrayPartialReverseSort": lambda limit, a: F.reverse(
        F.array_sort(_c(a))),
    # bitmapTransform (FunctionsBitmap.cpp): replace from->to values in
    # the sorted-array bitmap carrier
    "bitmapTransform": lambda bm, frm, to: F.array_sort(F.array_distinct(
        F.transform(_c(bm), lambda x: F.coalesce(
            F.try_element_at(F.map_from_arrays(_c(frm), _c(to)), x), x)))),
    # stringBytes* (stringBytes.cpp): statistics over the UTF-8 bytes
    "stringBytesUniq": lambda s: F.size(F.array_distinct(_str_bytes(s))),
    "stringBytesEntropy": lambda s: _string_bytes_entropy(s),
    # DateLUTImpl.h:701/:965
    "toRelativeWeekNum": lambda d: F.floor(
        (F.datediff(_c(d).cast("date"), F.lit("1970-01-01").cast("date"))
         + 7 - F.weekday(_c(d))) / 7).cast("long"),
    "toRelativeQuarterNum": lambda d: (
        F.year(_c(d)) * 4 + F.floor((F.month(_c(d)) - 1) / 3)).cast("long"),
}


def _str_bytes(s) -> Column:
    h = F.lower(F.hex(F.encode(_c(s).cast("string"), "UTF-8")))
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(h) / 2, F.lit(1)).cast("int")),
        lambda i: F.substring(h, (i - 1) * 2 + 1, 2))


def _string_bytes_entropy(s) -> Column:
    """Shannon entropy (bits) of the byte-value distribution."""
    bts = _str_bytes(s)
    n = F.size(bts).cast("double")
    uniq = F.array_distinct(bts)
    probs = F.transform(
        uniq, lambda b: F.size(F.filter(bts, lambda x: x == b))
        .cast("double") / n)
    return F.when(F.length(_c(s)) > 0, -F.aggregate(
        probs, F.lit(0.0), lambda acc, p: acc + p * F.log2(p))) \
        .otherwise(F.lit(0.0))


# ------------------------------------ breadth: final closure shims
# Reference: FunctionsConversion.cpp (BestEffort OrZero widths),
# pointInEllipses.cpp, FunctionsHashing.h (keyed sipHash registrations),
# variant/dynamic introspection over the JSON carrier (SURVEY §1.2).


def _point_in_ellipses(x, y, *params) -> Column:
    """pointInEllipses(x, y, x0, y0, a0, b0, x1, y1, a1, b1, ...):
    1 when the point is inside ANY of the axis-aligned ellipses."""
    if len(params) % 4 != 0 or not params:
        raise ValueError("pointInEllipses needs 4 args per ellipse")
    hit = F.lit(False)
    for i in range(0, len(params), 4):
        cx, cy, a, b = (_c(p).cast("double") for p in params[i:i + 4])
        dx, dy = _c(x).cast("double") - cx, _c(y).cast("double") - cy
        hit = hit | ((dx * dx) / (a * a) + (dy * dy) / (b * b) <= 1.0)
    return hit.cast("int")


_MISC6 = {
    "parseDateTimeBestEffortOrZero": lambda s, *a: F.coalesce(
        CH_FUNCTIONS["parseDateTimeBestEffortOrNull"](s),
        F.lit(_EPOCH_TS).cast("timestamp")),
    "toIPv4OrZero": lambda s: F.coalesce(
        CH_FUNCTIONS["toIPv4OrNull"](s), F.lit("0.0.0.0")),
    "toIPv6OrZero": lambda s: F.coalesce(
        CH_FUNCTIONS["toIPv6OrNull"](s), F.lit("::")),
    "toValidUTF8": lambda s: _c(s).cast("string"),  # Spark strings are valid
    "toMonthNumSinceEpoch": lambda d: (
        (F.year(_c(d)) - 1970) * 12 + F.month(_c(d)) - 1).cast("long"),
    "toYearNumSinceEpoch": lambda d: (F.year(_c(d)) - 1970).cast("long"),
    "pointInEllipses": _point_in_ellipses,
    # keyed sipHash variants: key folded in as leading hash inputs
    # (same LIMITS.md mapping policy as cityHash -> xxhash64)
    "sipHash64Keyed": lambda k, *xs: F.xxhash64(_c(k), *[_c(x) for x in xs]),
    "sipHash128Keyed": lambda k, *xs: F.unhex(F.md5(F.concat_ws(
        "\x00", _c(k).cast("string"),
        *[_c(x).cast("string") for x in xs]))),
    "sipHash128Reference": lambda x: F.unhex(F.md5(_c(x).cast("binary"))),
    "sipHash128ReferenceKeyed": lambda k, *xs: F.unhex(F.md5(F.concat_ws(
        "\x00", _c(k).cast("string"),
        *[_c(x).cast("string") for x in xs]))),
    # Variant/Dynamic carrier is JSON text (SURVEY §1.2)
    "variantType": lambda j: _jtype_scalar(_c(j)),
    "dynamicType": lambda j: _jtype_scalar(_c(j)),
    "variantElement": lambda j, t: F.when(
        _jtype_scalar(_c(j)) == t,
        _c(j).try_cast(_CH_TYPE_TO_SPARK.get(str(t).lower(), "string"))),
    "dynamicElement": lambda j, t: F.when(
        _jtype_scalar(_c(j)) == t,
        _c(j).try_cast(_CH_TYPE_TO_SPARK.get(str(t).lower(), "string"))),
    "simpleJSONExtractUInt2": None,    # alias added below
}
_MISC6 = {k: v for k, v in _MISC6.items() if v is not None}
for _ch_name in ("parseDateTime32BestEffortOrZero",
                 "parseDateTime64BestEffortOrZero",
                 "parseDateTimeBestEffortUSOrZero",
                 "parseDateTime64BestEffortUSOrZero"):
    _MISC6[_ch_name] = _MISC6["parseDateTimeBestEffortOrZero"]
_MISC6["parseDateTime64BestEffortUS"] = \
    lambda s, *a: CH_FUNCTIONS["parseDateTimeBestEffort"](s)
_MISC6["parseDateTime64BestEffortUSOrNull"] = \
    lambda s, *a: CH_FUNCTIONS["parseDateTimeBestEffortOrNull"](s)


def _byte_at(hexstr: Column, k: Column) -> Column:
    """Byte value k (0-based) of a hex string; 0 past the end."""
    return F.coalesce(
        F.nullif(F.conv(F.substring(hexstr, k * 2 + 1, 2), 16, 10), F.lit("")),
        F.lit("0")).cast("int")


def _bit_slice(s, off, ln=None) -> Column:
    """bitSlice(s, offset[, length]) (src/Functions/bitSlice.cpp):
    bit-granular substring, 1-based offset, zero-padded final byte.
    Positive offsets/lengths only (the negative-from-end forms are not
    mapped)."""
    hexstr = F.hex(_c(s).cast("binary"))
    total_bits = F.length(hexstr) * 4
    off_c = _c(off).cast("int")
    bits = (F.least(_c(ln).cast("int"), total_bits - off_c + 1)
            if ln is not None else (total_bits - off_c + 1))
    r = (off_c - 1) % 8
    k0 = F.floor((off_c - 1) / 8).cast("int")
    n_out = F.ceil(bits / 8.0).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_out - 1, F.lit(0)))

    def out_byte(i):
        b0 = _byte_at(hexstr, k0 + i)
        b1 = _byte_at(hexstr, k0 + i + 1)
        # (b0 << r | b1 >> (8-r)) & 255 with a COLUMN shift amount:
        # via the 16-bit window b0<<8|b1 shifted right by (8-r)
        # (division by a power of two — exact)
        win = F.shiftleft(b0.cast("long"), 8).bitwiseOR(b1.cast("long"))
        v = F.when(r == 0, b0.cast("long")).otherwise(
            F.floor(win / F.pow(F.lit(2.0), (8 - r).cast("double")))
            .cast("long").bitwiseAND(F.lit(255).cast("long")))
        # zero out bits past the slice in the final byte
        rem = bits - i * 8
        keep = F.when(rem >= 8, F.lit(255).cast("long")).otherwise(
            F.lit(256).cast("long") - F.pow(
                F.lit(2.0), (8 - rem).cast("double")).cast("long"))
        return v.bitwiseAND(keep)

    out_hex = F.aggregate(
        idx, F.lit(""),
        lambda acc, i: F.concat(acc, F.lpad(F.hex(out_byte(i)), 2, "0")))
    # BINARY out: CH String is binary-safe; a UTF-8 string cast would
    # mangle non-UTF8 slices (cast to string yourself for text input)
    return F.when(bits <= 0, F.lit(b"").cast("binary")).otherwise(
        F.unhex(out_hex))


def _bits_to_float64(bits: Column) -> Column:
    sign = F.when(bits < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    exp = F.shiftrightunsigned(bits, 52).bitwiseAND(
        F.lit(0x7FF).cast("long")).cast("int")
    frac = bits.bitwiseAND(F.lit((1 << 52) - 1).cast("long"))
    m = frac.cast("double") / F.lit(float(1 << 52))
    return (F.when((exp == 0x7FF) & (frac == 0),
                   sign * F.lit(float("inf")))
            .when(exp == 0x7FF, F.lit(float("nan")))
            .when(exp == 0, sign * m * F.lit(2.0 ** -1022))
            .otherwise(sign * (1.0 + m)
                       * F.pow(F.lit(2.0), (exp - 1023).cast("double"))))


def _bits_to_float32(bits: Column) -> Column:
    sign = F.when(F.shiftrightunsigned(bits, 31).bitwiseAND(
        F.lit(1).cast("long")) == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    exp = F.shiftrightunsigned(bits, 23).bitwiseAND(
        F.lit(0xFF).cast("long")).cast("int")
    frac = bits.bitwiseAND(F.lit((1 << 23) - 1).cast("long"))
    m = frac.cast("double") / F.lit(float(1 << 23))
    return (F.when((exp == 0xFF) & (frac == 0), sign * F.lit(float("inf")))
            .when(exp == 0xFF, F.lit(float("nan")))
            .when(exp == 0, sign * m * F.lit(2.0 ** -126))
            .otherwise(sign * (1.0 + m)
                       * F.pow(F.lit(2.0), (exp - 127).cast("double")))
            ).cast("float")


def _random_chars(n, lo: int, span: int) -> Column:
    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(_c(n).cast("int"), F.lit(0))),
        F.lit(""),
        lambda acc, _i: F.concat(acc, F.char(
            (F.floor(F.rand() * span) + lo).cast("int"))))


_INTERVAL_MAKERS = {
    "second": lambda n: F.make_interval(secs=n),
    "minute": lambda n: F.make_interval(mins=n),
    "hour": lambda n: F.make_interval(hours=n),
    "day": lambda n: F.make_interval(days=n),
    "week": lambda n: F.make_interval(weeks=n),
    "month": lambda n: F.make_interval(months=n),
    "quarter": lambda n: F.make_interval(months=n * 3),
    "year": lambda n: F.make_interval(years=n),
}


def _to_interval(n, unit) -> Column:
    u = str(unit).strip("'\"").lower()
    if u not in _INTERVAL_MAKERS:
        raise NotImplementedError(f"toInterval: unit {u!r} not mapped")
    return _INTERVAL_MAKERS[u](_c(n).cast("int"))


# ------------------------------------------- round-4 closure batch
# Small named gaps from the registration diff vs the reference
# (clamp.cpp, sigmoid via FunctionMathUnary, FunctionsHashing.h
# IntHash32/64Impl, blockNumber.cpp / rowNumberInBlock.cpp,
# FunctionsConversion.h toIPv4/toIPv6, defaultValueOfTypeName.cpp,
# isNotDistinctFrom.cpp, getSubcolumn.cpp, toCustomWeek.cpp weekyear).

_TYPE_DEFAULTS = {
    "string": "", "date": "1970-01-01", "float32": 0.0, "float64": 0.0,
}


def _default_value_of_type(t) -> Column:
    name = str(t).strip().strip("'\"")
    spark_t = _CH_TYPE_TO_SPARK.get(name.lower(), name.lower())
    if spark_t in ("string",):
        return F.lit("")
    if spark_t == "date":
        return F.lit("1970-01-01").cast("date")
    if spark_t == "timestamp":
        return F.lit("1970-01-01 00:00:00").cast("timestamp")
    if spark_t in ("float", "double"):
        return F.lit(0.0).cast(spark_t)
    return F.lit(0).cast(spark_t)


_MISC7 = {
    "intHash32": _int_hash32,
    "intHash64": _int_hash64,
    "clamp": lambda x, lo, hi: F.least(F.greatest(_c(x), _c(lo)), _c(hi)),
    "sigmoid": lambda x: 1.0 / (1.0 + F.exp(-_c(x).cast("double"))),
    "basename": lambda x: F.element_at(F.split(_c(x), "/"), -1),
    "mapContainsKey": lambda m, k: F.map_contains_key(_c(m), k).cast("int"),
    "toBool": lambda x: _c(x).cast("boolean"),
    # ISO week-year = calendar year of that week's Thursday
    "toWeekYear": lambda x: F.year(F.date_add(
        F.to_date(F.date_trunc("week", _c(x))), 3)),
    "toWeekOfWeekYear": lambda x: F.weekofyear(_c(x)),
    "isNotDistinctFrom": lambda a, b: _c(a).eqNullSafe(_c(b)).cast("int"),
    "getSubcolumn": lambda x, name: _c(x).getField(
        str(name).strip("'\"") if not isinstance(name, Column) else name),
    # block ≈ Spark partition (documented mapping): blockNumber is the
    # partition id; rowNumberInBlock is the low 33 bits of
    # monotonically_increasing_id (its in-partition counter)
    "blockNumber": lambda: F.spark_partition_id().cast("long"),
    "rowNumberInBlock": lambda: F.monotonically_increasing_id()
    .bitwiseAND(F.lit((1 << 33) - 1).cast("long")),
    "blockSerializedSize": None,   # server introspection — out of scope
    # blockSize() = rows in this block ≈ rows in this Spark partition
    # (blockSize.cpp; same block≈partition mapping as blockNumber)
    "blockSize": lambda: F.count(F.lit(1)).over(
        __import__("pyspark.sql.window", fromlist=["Window"])
        .Window.partitionBy(F.spark_partition_id())),
    # ranked enumerate with default depth == the plain form
    # (arrayEnumerateRanked.h: clear_depth=1, max_array_depth=1);
    # deeper rankings raise by name
    "arrayEnumerateDenseRanked": lambda a, *depth: (
        CH_FUNCTIONS["arrayEnumerateDense"](a) if not depth
        else (_ for _ in ()).throw(NotImplementedError(
            "arrayEnumerateDenseRanked: only the default depth "
            "(= arrayEnumerateDense) is supported"))),
    "arrayEnumerateUniqRanked": lambda a, *depth: (
        CH_FUNCTIONS["arrayEnumerateUniq"](a) if not depth
        else (_ for _ in ()).throw(NotImplementedError(
            "arrayEnumerateUniqRanked: only the default depth "
            "(= arrayEnumerateUniq) is supported"))),
    # validateNestedArraySizes(cond, arr1, arr2, ...): true when all
    # arrays share one length (Nested column invariant,
    # src/Functions/validateNestedArraySizes.cpp)
    "validateNestedArraySizes": lambda cond, *arrs: (
        ~_c(cond).cast("boolean") | (
            F.size(F.array_distinct(
                F.array(*[F.size(_c(a)) for a in arrs]))) == 1)
    ).cast("int"),
    "bitSlice": lambda s, off, ln=None: _bit_slice(s, off, ln),
    # bit-reinterpret int carriers as IEEE-754 floats
    # (src/Functions/reinterpretAs.cpp) — manual mantissa/exponent
    # decomposition; every step is an exact power-of-two scaling
    "reinterpretAsFloat64": lambda x: _bits_to_float64(
        _c(x).cast("long")),
    "reinterpretAsFloat32": lambda x: _bits_to_float32(
        _c(x).cast("long").bitwiseAND(F.lit(0xFFFFFFFF).cast("long"))),
    # random string family (rand.cpp/randomString.cpp — nondeterministic
    # in the reference too; these draw per row from Spark's rand())
    "randomPrintableASCII": lambda n: _random_chars(n, 32, 95),
    # single-byte code points only: the reference's random BYTES have
    # length(s) = n in bytes, and the UTF-8 carrier would double-count
    # codes >= 128 (golden 03457 length(randomString(2048)) = 2048)
    "randomString": lambda n: _random_chars(n, 0, 128),
    # same single-byte rationale: octet_length(randomFixedString(n))
    # must equal n (r11 ADVICE fix — 128-255 encode as 2 UTF-8 bytes)
    "randomFixedString": lambda n: _random_chars(n, 0, 128),
    "randConstant": lambda *a: F.lit(__import__("random").random()),
    "toInterval": lambda n, unit: _to_interval(n, unit),
    "visibleWidth": lambda x: F.char_length(_c(x).cast("string")),
    "space": lambda n: F.repeat(F.lit(" "), _c(n).cast("int")),
    "instr": lambda s, sub: F.locate(sub, _c(s)) if isinstance(sub, str)
    else F.call_function("instr", _c(s), _c(sub)),
    "printf": lambda fmt, *a: (
        F.format_string(fmt, *[_c(x) for x in a]) if isinstance(fmt, str)
        else F.call_function("format_string", _c(fmt),
                             *[_c(x) for x in a])),
    "defaultValueOfTypeName": _default_value_of_type,
    # toIPv4/toIPv6: parse + canonical text form (the engine's carrier
    # for IP types is the canonical string)
    "toIPv4": lambda x: _IP["IPv4NumToString"](_IP["IPv4StringToNum"](x)),
    "toIPv6": lambda x: _ipv6_num_to_string(_ipv6_string_to_num(x)),
    "parseDateTime64": lambda s, *a: CH_FUNCTIONS["parseDateTime"](
        s, *[x for x in a if not isinstance(x, int)]),
    "timestamp": lambda s, *a: _c(s).cast("timestamp"),
}
_MISC7 = {k: v for k, v in _MISC7.items() if v is not None}

_ALIAS_NAMES.update({
    "mod": "modulo",
    "flatten": "arrayFlatten",
    "truncate": "trunc",
    "toStartOfFiveMinute": "toStartOfFiveMinutes",
    "extractAllGroups": "extractAllGroupsVertical",
    "week": "toWeek",
    "time_bucket": "toStartOfInterval",
    # valued/valueless CASE internal parser names (reference
    # src/Functions/caseWithExpression.cpp, multiIf.cpp aliases)
    "caseWithExpr": "caseWithExpression",
    # Date32 covers the same range as Spark's DateType — same builder
    "overlayUTF8": "overlay",
    "caseWithoutExpr": "multiIf",
    "caseWithoutExpression": "multiIf",
})


from clickhouse_core_spark.functions.longtail5 import LONGTAIL5  # noqa: E402
from clickhouse_core_spark.functions.iceberg import ICEBERG  # noqa: E402
from clickhouse_core_spark.functions.h3 import H3_FUNCTIONS  # noqa: E402


def _reinterpret_dispatch(x, t):
    """reinterpret(x, 'Type') (src/Functions/reinterpretAs.cpp generic
    form): dispatch to the matching reinterpretAs<Type> entry; the type
    argument must be a literal string (it is in the reference too —
    reinterpret's target type is a compile-time constant)."""
    if not isinstance(t, str):
        raise ValueError("reinterpret: type argument must be a literal "
                         "string, e.g. reinterpret(x, 'UInt32')")
    key = f"reinterpretAs{t.strip()}"
    if key not in CH_FUNCTIONS:
        raise NotImplementedError(f"reinterpret: no mapping for {t!r}")
    return CH_FUNCTIONS[key](x)


def _partition_id(*args):
    """partitionId(values...) (src/Functions/partitionId.cpp →
    MergeTreePartition::getID): single integer value -> its decimal
    rendering; single Date -> YYYYMMDD; no args -> 'all'.  The
    multi-value form hashes with sipHash128 (only approximated here),
    so it raises as a named boundary rather than emitting wrong ids."""
    if not args:
        return F.lit("all")
    if len(args) > 1:
        raise NotImplementedError(
            "partitionId: multi-column partition keys hash with "
            "sipHash128 (bit-exact variant not implemented)")
    s = _c(args[0]).cast("string")
    return F.when(s.rlike(r"^\d{4}-\d{2}-\d{2}$"),
                  F.date_format(F.to_date(s), "yyyyMMdd")).otherwise(s)


def _has_column_in_table(*args):
    """hasColumnInTable([db,] table, column) — catalog probe against
    the active session's registered tables (the reference checks its
    own catalog; src/Functions/hasColumnInTable.cpp)."""
    from pyspark.sql import SparkSession
    vals = [a for a in args if isinstance(a, str)]
    if len(vals) < 2:
        raise ValueError("hasColumnInTable needs literal (db?, table, "
                         "column) strings")
    col = vals[-1]
    table = ".".join(vals[:-1])
    spark = SparkSession.getActiveSession()
    try:
        names = [f.name for f in spark.table(table).schema.fields]
    except Exception:
        return F.lit(0).cast("tinyint")
    return F.lit(1 if col in names else 0).cast("tinyint")


def _get_setting(name, *default):
    """getSetting / getSettingOrDefault (src/Functions/getSetting.cpp):
    custom settings live under spark.clickhouse_core.setting.<name> in
    the session conf (the SETTINGS-clause analog on a Spark session);
    unknown name -> default when given, else raises like the
    reference."""
    from pyspark.sql import SparkSession
    if not isinstance(name, str):
        raise ValueError("getSetting: name must be a literal string")
    spark = SparkSession.getActiveSession()
    v = None
    if spark is not None:
        v = spark.conf.get(f"spark.clickhouse_core.setting.{name}", None)
    if v is None:
        if default:
            return _c(default[0])
        raise ValueError(f"getSetting: unknown setting {name!r}")
    for caster in (int, float):
        try:
            return F.lit(caster(v))
        except ValueError:
            continue
    return F.lit(v)


_MISC8 = {
    # Iceberg partition transforms (public Apache Iceberg spec,
    # Appendix B) — see functions/iceberg.py
    **ICEBERG,
    "getSetting": _get_setting,
    "getSettingOrDefault": _get_setting,
    # h3 index-format subset (public H3 index spec + constant tables;
    # geographic projection functions stay out) — see functions/h3.py
    **H3_FUNCTIONS,
    "reinterpret": _reinterpret_dispatch,
    "partitionId": _partition_id,
    "hasColumnInTable": _has_column_in_table,
    # interval-tuple builders (src/Functions/FunctionsOpDate.cpp
    # addInterval/subtractInterval build tuples consumed by
    # addTupleOfIntervals) — our interval-tuple carrier is a python
    # list of (n, unit), so these are list builders
    "addInterval": lambda t, iv: (
        (list(t) if isinstance(t, (list, tuple)) and t
         and isinstance(t[0], (list, tuple)) else [t]) + [iv]),
    "subtractInterval": lambda t, iv: (
        (list(t) if isinstance(t, (list, tuple)) and t
         and isinstance(t[0], (list, tuple)) else [t])
        + [(-iv[0], iv[1])]),
}

CH_FUNCTIONS: dict = {}
for fam in (_DT, _STR, _URL, _IP, _ENC, _HASH, _ROUND, _COND, _MATH, _ARR,
            _JSON, _MISC, _ARR2, _MAP2, _DT2, _READABLE, _STR2, _BIT2,
            _CONV4, _CONV2, _CONV3, _MISC2, _VEC, _VEC2, _IP2, _HASH2,
            _DT4, _MATH3, _HASH3, _URL2, _TEXTHASH, _IPRANGE, _MISC4,
            _MISC5, _MISC6, _REINTERP, _MISC3, _BITMAP, _UUIDF, _COMPAT,
            _SEARCH_EXT, _DT3, _COLL_EXT, _UNICODE_EXT, _PUREHASH, _MISC7,
            _SQIDS, _FUZZY, _SERIESF, LONGTAIL5, _MISC8):
    for name, fn in fam.items():
        if fn is not None:
            CH_FUNCTIONS[name] = fn

for alias, target in _ALIAS_NAMES.items():
    if target in CH_FUNCTIONS:
        CH_FUNCTIONS[alias] = CH_FUNCTIONS[target]

# attribute-style access: ch.toYear(col)
ch = SimpleNamespace(**CH_FUNCTIONS)
