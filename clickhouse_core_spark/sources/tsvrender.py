"""CH ``TabSeparated`` display rendering of collected results.

Reference: the TabSeparated/TSV output format
(src/Processors/Formats/Impl/TabSeparatedRowOutputFormat.cpp and the
per-type text serializations under src/DataTypes/Serializations/) —
the DEFAULT output format of the reference client and therefore the
format every ``tests/queries/0_stateless/*.reference`` golden file is
written in.  Re-implemented from the publicly documented text rules:

  - one row per line, fields joined by TAB
  - top-level NULL → ``\\N``;  NULL inside composites → ``NULL``
  - strings: backslash-escaped (``\\t \\n \\r \\\\``), NOT quoted at
    top level;  single-quoted with ``\\'`` escapes inside composites
  - floats: shortest round-trip, integral values render bare
    (``1`` not ``1.0``), ``inf``/``-inf``/``nan``
  - Decimal: trailing fractional zeros trimmed
  - Date ``YYYY-MM-DD``;  DateTime ``YYYY-MM-DD hh:mm:ss`` with the
    fractional part only when non-zero
  - Array ``[a,b]``, Tuple ``(a,b)``, Map ``{k:v}`` — composite
    elements use the quoted/nested forms recursively
  - Bool-typed columns carried as BOOLEAN render ``true``/``false``;
    UInt8-carried predicates arrive as int and render ``1``/``0``

This doubles as the engine's ``FORMAT TabSeparated`` display renderer
(`format_tsv`) and as the comparator for grading answers against the
reference's own expected output.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math


def _escape_top(s: str) -> str:
    # writeAnyEscapedString's full escape set: backslash, tab,
    # newlines, backspace, form-feed, NUL AND single quote
    return (s.replace("\\", "\\\\").replace("\t", "\\t")
            .replace("\n", "\\n").replace("\r", "\\r")
            .replace("\b", "\\b").replace("\f", "\\f")
            .replace("\0", "\\0").replace("'", "\\'"))


def _escape_quoted(s: str) -> str:
    return ("'" + s.replace("\\", "\\\\").replace("'", "\\'")
            .replace("\t", "\\t").replace("\n", "\\n")
            .replace("\b", "\\b").replace("\f", "\\f")
            .replace("\0", "\\0").replace("\r", "\\r") + "'")


def _float_repr(f: float) -> str:
    if math.isnan(f):
        return "nan"
    if math.isinf(f):
        return "inf" if f > 0 else "-inf"
    if f == int(f) and abs(f) < 1e15:
        return str(int(f))
    r = repr(f)
    # CH scientific form has no '+' and no zero-padded exponent
    if "e" in r:
        mant, _, exp = r.partition("e")
        sign = "-" if exp.startswith("-") else ""
        r = f"{mant}e{sign}{int(exp.lstrip('+-'))}"
    return r


def _decimal_repr(d: _decimal.Decimal) -> str:
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s or "0"


# (wall "YYYY-mm-dd HH:MM:SS", microsecond) -> declared DateTime64
# scale, registered by the frontend's constant-fold paths (timestamps
# carry no scale metadata; DateTime64(3) dominates the corpus so the
# default pads to 3, but e.g. DateTime64(1) literals print ONE digit —
# golden 01702_toDateTime_from_string_clamping)
DT64_SCALE_HINTS: dict = {}


def _dt_repr(v: _dt.datetime) -> str:
    base = v.strftime("%Y-%m-%d %H:%M:%S")
    if v.microsecond:
        hint = DT64_SCALE_HINTS.get((base, v.microsecond))
        if hint:
            return f"{base}.{f'{v.microsecond:06d}'[:hint]}"
        frac = f"{v.microsecond:06d}".rstrip("0")
        if len(frac) < 3:
            frac = f"{v.microsecond:06d}"[:3]
        return f"{base}.{frac}"
    return base


def render_value(v, nested: bool = False,
                 bool_as_int: bool = False) -> str:
    """One value in CH text form; ``nested=True`` uses the quoted
    composite-element rules.  ``bool_as_int`` renders booleans as the
    UInt8 carrier (``1``/``0``) the reference uses for predicates."""
    if v is None:
        return "NULL" if nested else "\\N"
    if isinstance(v, bool):
        if bool_as_int:
            return "1" if v else "0"
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _float_repr(v)
    if isinstance(v, _decimal.Decimal):
        return _decimal_repr(v)
    if isinstance(v, _dt.datetime):
        s = _dt_repr(v)
        return f"'{s}'" if nested else s
    if isinstance(v, _dt.date):
        s = v.isoformat()
        return f"'{s}'" if nested else s
    if isinstance(v, (bytes, bytearray)):
        s = bytes(v).decode("utf-8", errors="surrogateescape")
        return _escape_quoted(s) if nested else _escape_top(s)
    if isinstance(v, str):
        return _escape_quoted(v) if nested else _escape_top(v)
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{render_value(k, True, bool_as_int)}:"
            f"{render_value(x, True, bool_as_int)}"
            for k, x in v.items()) + "}"
    # an ARRAY of (__ch_k, __ch_v) structs is the ORDER-PRESERVING map
    # carrier (py4j's MapType→dict conversion scrambles entry order,
    # so ordered CH maps ship as sentinel-named map_entries() arrays —
    # golden 03270 sorted JSON path maps): render in CH Map text form.
    # The sentinel names (not 'key'/'value') keep a GENUINE
    # Array(Tuple(key, value)) rendering as a tuple list (ADVICE r12).
    if isinstance(v, (list, tuple)) and v \
            and all(getattr(x, "__fields__", None) ==
                    ["__ch_k", "__ch_v"] for x in v):
        return "{" + ",".join(
            f"{render_value(x['__ch_k'], True, bool_as_int)}:"
            f"{render_value(x['__ch_v'], True, bool_as_int)}"
            for x in v) + "}"
    # pyspark Row (struct) exposes __fields__; render as tuple
    if hasattr(v, "__fields__"):
        vals = [v[i] for i in range(len(v.__fields__))]
        return "(" + ",".join(
            render_value(x, True, bool_as_int) for x in vals) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(
            render_value(x, True, bool_as_int) for x in v) + "]"
    return _escape_quoted(str(v)) if nested else _escape_top(str(v))


def _float32_repr(v: float) -> str:
    """Float32 columns print with float32 shortest round-trip (the
    reference serializes Float32 natively; the collected python value
    is a widened double)."""
    try:
        import numpy as np
        r = repr(np.float32(v))
        if r.endswith(".0"):
            r = r[:-2]
        if "e" in r:
            mant, _, exp = r.partition("e")
            sign = "-" if exp.startswith("-") else ""
            r = f"{mant}e{sign}{int(exp.lstrip('+-'))}"
        return r
    except Exception:
        return _float_repr(v)


def _render_struct_typed(v, dtype, bool_as_int: bool) -> str:
    """A struct value rendered with its Spark TYPE in hand: JSON
    named-tuple inference carries non-Nullable Array members whose
    MISSING values print as [] (addMissingDefaults on tuple reads;
    golden 02874), not NULL."""
    from pyspark.sql import types as _T
    if not isinstance(dtype, _T.StructType) \
            or not hasattr(v, "__fields__"):
        return render_value(v, nested=True, bool_as_int=bool_as_int)

    def elem(x, ft):
        if x is None and isinstance(ft, _T.ArrayType):
            return "[]"
        if x is None and isinstance(ft, _T.StructType):
            # a MISSING tuple fills with per-field defaults — ((NULL))
            # not NULL (addMissingDefaults; golden 02874)
            return ("(" + ",".join(elem(None, f.dataType)
                                   for f in ft.fields) + ")")
        if isinstance(ft, _T.StructType) and x is not None \
                and hasattr(x, "__fields__"):
            return _render_struct_typed(x, ft, bool_as_int)
        if isinstance(ft, _T.ArrayType) \
                and isinstance(ft.elementType, _T.StructType) \
                and isinstance(x, (list, tuple)):
            return "[" + ",".join(elem(e, ft.elementType)
                                  for e in x) + "]"
        return render_value(x, nested=True, bool_as_int=bool_as_int)
    vals = [v[i] for i in range(len(v.__fields__))]
    return "(" + ",".join(
        elem(x, f.dataType) for x, f in zip(vals, dtype.fields)) + ")"


def _is_chmap_carrier(dtype) -> bool:
    """Column-level detection of the ordered-map entries carrier:
    array<struct<__ch_k, __ch_v>> (see render_value)."""
    try:
        from pyspark.sql import types as _T
        return (isinstance(dtype, _T.ArrayType)
                and isinstance(dtype.elementType, _T.StructType)
                and [f.name for f in dtype.elementType.fields]
                == ["__ch_k", "__ch_v"])
    except Exception:
        return False


def render_row(row, bool_as_int: bool = False, types=None,
               scales=None, dtypes=None) -> str:
    out = []
    for i, v in enumerate(row):
        if types is not None and v is not None \
                and not isinstance(v, bool) and isinstance(v, float) \
                and types[i] == "float":
            if v != v or v in (float("inf"), float("-inf")):
                out.append(_float_repr(v))
            else:
                out.append(_float32_repr(v))
            continue
        if dtypes is not None and v is not None \
                and hasattr(v, "__fields__"):
            out.append(_render_struct_typed(v, dtypes[i],
                                            bool_as_int))
            continue
        if dtypes is not None and isinstance(v, (list, tuple)) and v \
                and not _is_chmap_carrier(dtypes[i]):
            from pyspark.sql import types as _T
            if isinstance(dtypes[i], _T.ArrayType) \
                    and isinstance(dtypes[i].elementType,
                                   _T.StructType):
                # Array(Tuple(...)): elements render with the typed
                # struct path so missing non-Nullable Array members
                # print [] (golden 02874)
                out.append("[" + ",".join(
                    _render_struct_typed(e, dtypes[i].elementType,
                                         bool_as_int)
                    if e is not None else "NULL" for e in v) + "]")
                continue
        if dtypes is not None and isinstance(v, (list, tuple)) \
                and not v and _is_chmap_carrier(dtypes[i]):
            # an EMPTY ordered-map carrier is still a map: {} not []
            out.append("{}")
            continue
        if scales is not None and scales[i] is not None \
                and isinstance(v, _dt.datetime):
            # declared DateTime64(p) column: render EXACTLY p
            # fractional digits (SerializationDateTime64 writes the
            # column scale; golden 02997 scale-conversion tables)
            p = scales[i]
            base = v.strftime("%Y-%m-%d %H:%M:%S")
            out.append(base if p == 0
                       else f"{base}.{f'{v.microsecond:06d}'[:p]}")
            continue
        out.append(render_value(v, bool_as_int=bool_as_int))
    return "\t".join(out)


def render_rows(rows, bool_as_int: bool = False, schema=None,
                json_cols=None) -> str:
    """``schema``: optional Spark StructType — enables per-column
    carrier-aware rendering (Float32 shortest-roundtrip, declared
    DateTime64 scales via the ``ch_dt64_scale`` field metadata).
    ``json_cols``: declared JSON-type column names — their string
    carriers render as sorted/quoted JSON objects
    (SerializationObject; golden 03257)."""
    types = ([f.dataType.simpleString() for f in schema.fields]
             if schema is not None else None)
    scales = None
    if schema is not None:
        scales = [(f.metadata or {}).get("ch_dt64_scale")
                  for f in schema.fields]
        if not any(s is not None for s in scales):
            scales = None
    dtypes = ([f.dataType for f in schema.fields]
              if schema is not None else None)
    jmask = None
    if json_cols and schema is not None:
        jmask = [f.name in json_cols for f in schema.fields]
        if not any(jmask):
            jmask = None
    if jmask is None:
        return "\n".join(render_row(r, bool_as_int=bool_as_int,
                                     types=types, scales=scales,
                                     dtypes=dtypes)
                         for r in rows)
    out_lines = []
    for r in rows:
        cells = []
        for i, v in enumerate(r):
            if jmask[i] and isinstance(v, str):
                cells.append(_escape_top(_json_object_value(v)
                                         .strip('"')
                             if not v.lstrip().startswith(("{", "["))
                             else _json_object_value(v)))
            else:
                cells.append(render_row(
                    [v], bool_as_int=bool_as_int,
                    types=[types[i]] if types else None,
                    scales=[scales[i]] if scales else None,
                    dtypes=[dtypes[i]] if dtypes else None))
        out_lines.append("\t".join(cells))
    return "\n".join(out_lines)


def _csv_quote(s: str) -> str:
    # writeCSVString: wrap in double quotes, double the quotes,
    # everything else (newlines, backslashes) stays raw
    return '"' + s.replace('"', '""') + '"'


def _csv_field(v, simple: str | None = None) -> str:
    """One CSV output field (CSVRowOutputFormat + per-type
    serializeTextCSV): numbers bare, strings/dates/composites
    double-quoted with quote doubling."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if simple == "float" and v == v \
                and v not in (float("inf"), float("-inf")):
            return _float32_repr(v)
        return _float_repr(v)
    if isinstance(v, _decimal.Decimal):
        return _decimal_repr(v)
    if isinstance(v, _dt.datetime):
        return _csv_quote(_dt_repr(v))
    if isinstance(v, _dt.date):
        return _csv_quote(v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return _csv_quote(bytes(v).decode("utf-8",
                                          errors="surrogateescape"))
    if isinstance(v, str):
        return _csv_quote(v)
    if hasattr(v, "__fields__"):
        # Tuple elements serialize as SEPARATE CSV fields
        # (SerializationTuple::serializeTextCSV)
        vals = [v[i] for i in range(len(v.__fields__))]
        return ",".join(_csv_field(x) for x in vals)
    if isinstance(v, (list, tuple, dict)):
        # composite text form (no escape pass — CSV quoting only)
        return _csv_quote(render_value(v, bool_as_int=True))
    return _csv_quote(str(v))


def format_csv_rows(rows, schema=None, with_names: bool = False,
                    columns=None) -> str:
    """CH ``FORMAT CSV`` / ``CSVWithNames`` display text."""
    types = ([f.dataType.simpleString() for f in schema.fields]
             if schema is not None else None)
    lines = []
    if with_names and columns:
        lines.append(",".join(_csv_quote(c) for c in columns))
    for r in rows:
        lines.append(",".join(
            _csv_field(v, types[i] if types else None)
            for i, v in enumerate(r)))
    return "\n".join(lines) + ("\n" if lines else "")


def format_values_rows(rows, schema=None) -> str:
    """CH ``FORMAT Values``: row tuples joined by commas on one line
    (ValuesRowOutputFormat)."""
    types = ([f.dataType.simpleString() for f in schema.fields]
             if schema is not None else None)
    parts = []
    for r in rows:
        elems = []
        for i, v in enumerate(r):
            if v is None:
                elems.append("NULL")
            elif isinstance(v, float) and types \
                    and types[i] == "float" and v == v \
                    and v not in (float("inf"), float("-inf")):
                elems.append(_float32_repr(v))
            else:
                elems.append(render_value(v, nested=True,
                                          bool_as_int=True))
        parts.append("(" + ",".join(elems) + ")")
    return (",".join(parts) + "\n") if parts else ""


_JSON_ESC = {"\\": "\\\\", '"': '\\"', "\b": "\\b", "\f": "\\f",
             "\n": "\\n", "\r": "\\r", "\t": "\\t",
             "\u2028": "\\u2028", "\u2029": "\\u2029"}

# output_format_json_escape_forward_slashes (reference default 1):
# '/' renders as '\/' in JSON output; the frontend's SET handler
# flips this
JSON_ESCAPE_SLASHES = [True]


def _json_str(s: str) -> str:
    out = []
    for ch in s:
        e = _JSON_ESC.get(ch)
        if e is not None:
            out.append(e)
        elif ch == "/" and JSON_ESCAPE_SLASHES[0]:
            out.append("\\/")
        elif ord(ch) < 0x20:
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)       # non-ASCII stays raw (CH writes UTF-8)
    return '"' + "".join(out) + '"'


def _json_value(v, simple: str | None = None,
                quote64: bool = True) -> str:
    """One JSON output value (JSONEachRowRowOutputFormat defaults:
    64-bit integer carriers quoted — output_format_json_quote_64bit_
    integers=1, opt-out honored; nan/inf → null; named tuples render
    as OBJECTS — output_format_json_named_tuples_as_objects
    default)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        # bigint serves as the UInt32 carrier too — only the exact
        # 64-bit carriers (the decimal shapes below) quote
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return "null"
        if simple == "float":
            return _float32_repr(v)
        return _float_repr(v)
    if isinstance(v, _decimal.Decimal):
        # the (20,0)/(38,0) carriers ARE 64/128-bit integer columns —
        # the 64-bit quoting rule covers them
        if v == v.to_integral_value() and quote64 \
                and simple in ("decimal(20,0)", "decimal(38,0)"):
            return f'"{_decimal_repr(v)}"'
        return _decimal_repr(v)
    if isinstance(v, _dt.datetime):
        return _json_str(_dt_repr(v))
    if isinstance(v, _dt.date):
        return _json_str(v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return _json_str(bytes(v).decode("utf-8",
                                         errors="surrogateescape"))
    if isinstance(v, str):
        return _json_str(v)
    if hasattr(v, "__fields__"):
        return "{" + ",".join(
            f"{_json_str(n)}:{_json_value(v[i], quote64=quote64)}"
            for i, n in enumerate(v.__fields__)) + "}"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{_json_str(str(k))}:{_json_value(x, quote64=quote64)}"
            for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_json_value(x, quote64=quote64)
                              for x in v) + "]"
    return _json_str(str(v))


def _json_object_value(txt: str) -> str:
    """A JSON-TYPE column value (carried as a JSON string) rendered
    the reference's way (SerializationObject JSON output): emitted as
    an OBJECT, paths sorted, 64-bit integer leafs QUOTED (the JSON
    type's dynamic Int64), strings re-escaped (incl. the
    forward-slash rule)."""
    import json as _json
    try:
        doc = _json.loads(txt)
    except Exception:
        return _json_str(txt)
    if not isinstance(doc, (dict, list)):
        return _json_str(txt)

    def emit(v):
        if v is None:
            return "null"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return f'"{v}"'        # dynamic Int64 leaf: quoted
        if isinstance(v, float):
            return _float_repr(v)
        if isinstance(v, str):
            return _json_str(v)
        if isinstance(v, list):
            return "[" + ",".join(emit(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(
                f"{_json_str(k)}:{emit(v[k])}"
                for k in sorted(v)) + "}"
        return _json_str(str(v))
    return emit(doc)


def format_json_each_row(rows, schema=None, columns=None,
                         json_cols=frozenset(),
                         quote64: bool = True) -> str:
    """CH ``FORMAT JSONEachRow`` display text.  ``json_cols`` names
    output columns of the declared JSON type — their string-carried
    values render as objects, not quoted strings.  ``quote64``
    mirrors output_format_json_quote_64bit_integers."""
    types = ([f.dataType.simpleString() for f in schema.fields]
             if schema is not None else None)
    cols = columns or (schema.fieldNames() if schema is not None else [])
    lines = []
    for r in rows:
        kv = ",".join(
            f"{_json_str(cols[i])}:"
            + (_json_object_value(v)
               if cols[i] in json_cols and isinstance(v, str)
               else _json_value(v, types[i] if types else None,
                                quote64=quote64))
            for i, v in enumerate(r))
        lines.append("{" + kv + "}")
    return "\n".join(lines) + ("\n" if lines else "")


def ch_default_value(simple: str):
    """The CH type default the totals block shows in its key columns
    (IColumn::insertDefault rendered as text): 0 / '' / epoch / empty
    composite.  ``simple`` is a Spark dataType.simpleString()."""
    if simple.startswith("decimal"):
        return _decimal.Decimal(0)
    if simple in ("tinyint", "smallint", "int", "bigint"):
        return 0
    if simple in ("float", "double"):
        return 0.0
    if simple in ("string", "binary", "varchar", "char"):
        return ""
    if simple == "boolean":
        return False
    if simple == "date":
        return _dt.date(1970, 1, 1)
    if simple.startswith("timestamp"):
        return _dt.datetime(1970, 1, 1)
    if simple.startswith("array"):
        return []
    if simple.startswith("map"):
        return {}
    return None


def _prom_quote(s: str) -> str:
    """Prometheus label value: double-quoted with backslash escapes
    (reference writeDoubleQuotedString)."""
    return ('"' + s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\t", "\\t")
            .replace("\r", "\\r") + '"')


def _prom_num(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "+Inf" if v > 0 else "-Inf"
    return render_value(v)


def format_prometheus(rows, columns) -> str:
    """FORMAT Prometheus (reference
    src/Processors/Formats/Impl/PrometheusTextOutputFormat.cpp —
    behavior re-derived, and the public Prometheus text exposition
    format): rows carry (name[, type][, help][, labels map], value
    [, timestamp]); consecutive same-name rows group into one metric
    block with # HELP/# TYPE headers, histogram/summary blocks sort
    buckets by their le/quantile label and push sum/count rows last
    (sum before count), a histogram's +Inf bucket and _count mirror
    each other, `sum`/`count` labels become _sum/_count name suffixes
    and `le` adds _bucket, labels render sorted {k="v",...}, inf/nan
    values print +Inf/NaN, and a zero/NULL timestamp is omitted."""
    ci = {c.lower(): i for i, c in enumerate(columns)}
    if "name" not in ci or "value" not in ci:
        raise ValueError("Prometheus format needs name/value columns")
    out: list[str] = []

    def flush(metric):
        if not metric or not metric["values"]:
            return
        name = metric["name"]
        if metric["help"]:
            out.append(f"# HELP {name} {metric['help']}")
        if metric["type"]:
            out.append(f"# TYPE {name} {metric['type']}")
        vals = metric["values"]
        use_buckets = metric["type"] in ("histogram", "summary")
        if use_buckets:
            blabel = "le" if metric["type"] == "histogram" \
                else "quantile"

            def keyf(v):
                labels = v["labels"]
                has_sum = "sum" in labels
                has_cnt = "count" in labels
                try:
                    b = float(labels.get(blabel, "inf")
                              .replace("+Inf", "inf"))
                except Exception:
                    b = float("inf")
                return (1 if (has_sum or has_cnt) else 0,
                        1 if has_cnt else 0, b)
            vals = sorted(vals, key=keyf)
            if metric["type"] == "histogram":
                inf_b = next((v for v in vals
                              if v["labels"].get("le") == "+Inf"),
                             None)
                cnt_b = next((v for v in vals
                              if "count" in v["labels"]), None)
                if cnt_b is not None and inf_b is None:
                    nv = dict(cnt_b)
                    nv["labels"] = {"le": "+Inf"}
                    vals.insert(len(vals) - 1, nv)
                elif inf_b is not None and cnt_b is None:
                    nv = dict(inf_b)
                    nv["labels"] = {"count": ""}
                    vals.append(nv)
        for v in vals:
            labels = dict(v["labels"])
            suffix = ""
            if use_buckets:
                if "sum" in labels:
                    suffix = "_sum"
                    labels.pop("sum")
                elif "count" in labels:
                    suffix = "_count"
                    labels.pop("count")
                elif "le" in labels:
                    suffix = "_bucket"
            line = name + suffix
            if labels:
                line += ("{" + ",".join(
                    f"{k}={_prom_quote(str(x))}"
                    for k, x in sorted(labels.items())) + "}")
            line += " " + _prom_num(v["value"])
            if v["ts"]:
                line += " " + v["ts"]
            out.append(line)
        out.append("")

    cur = None
    for row in rows:
        name = str(row[ci["name"]])
        if cur is None or cur["name"] != name:
            flush(cur)
            cur = {"name": name, "help": "", "type": "", "values": []}
        if "help" in ci and row[ci["help"]] and not cur["help"]:
            cur["help"] = str(row[ci["help"]]).replace("\n", " ")
        if "type" in ci and row[ci["type"]] and not cur["type"]:
            cur["type"] = str(row[ci["type"]])
        ts = ""
        if "timestamp" in ci and row[ci["timestamp"]] is not None:
            tv = row[ci["timestamp"]]
            if tv != 0:
                ts = _prom_num(tv)
        labels = {}
        if "labels" in ci and row[ci["labels"]] is not None:
            labels = {str(k): str(x)
                      for k, x in dict(row[ci["labels"]]).items()}
        cur["values"].append({"labels": labels,
                              "value": row[ci["value"]], "ts": ts})
    flush(cur)
    return "\n".join(out)


def format_tsv(df, max_rows: int = 100000, with_names: bool = False,
               with_types: bool = False) -> str:
    """CH ``TabSeparated`` / ``TSVWithNames`` display output for a
    DataFrame (bounded collect — a display renderer, not a sink)."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError("format_tsv is a display helper; got more "
                         f"than {max_rows} rows — limit first")
    lines = []
    if with_names:
        lines.append("\t".join(_escape_top(c) for c in df.columns))
    if with_types:
        lines.append("\t".join(
            f.dataType.simpleString() for f in df.schema.fields))
    body = render_rows(rows)
    if body:
        lines.append(body)
    return "\n".join(lines) + ("\n" if lines else "")
