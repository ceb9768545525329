"""Format registry — the FORMAT surface of the reference.

Reference: ``src/Formats/registerFormats.cpp:10-77`` declares the format
set (all registrations commented out there; only Native has live code —
``NativeWriter.cpp``/``NativeReader.cpp``). Inputs: ``read_format`` is
the one reader every input site calls — INSERT … FORMAT, INSERT … FROM
INFILE and the file/url/s3/hdfs/format table functions — and
``values_frame`` the one lowering of rows written as SQL (VALUES,
FORMAT Values, values()). ``FORMATS`` maps each name to its reader.
Outputs: ``TEXT_FORMATS`` maps each text format to its cells' escaping
rule and its layout, the one table the console FORMAT suffix, INTO
OUTFILE and formatRow read; a text format's input cells are read back
under the same rule. The byte codecs and Spark's columnar writers are
OUTFILE-only. ``INTO OUTFILE ... COMPRESSION``
(``ParserQueryWithOutput.cpp:83-99``) compresses the written file.
"""

from __future__ import annotations

import functools
import os
import struct
from collections.abc import Callable
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone
from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from ..functions.typemap import (CH_NUMERIC, canonical_type,
                                 ch_type_to_spark, column_ch_types,
                                 dt64_scale, is_ch_type, parse_structure,
                                 spark_to_ch, unwrap)


# CH CSV/TSV both write NULL as \N; reads infer column types when no
# structure is given. A CSV string may hold a newline inside its quotes
# (``_scan``); TSV escapes instead and never quotes.
_CSV = {"nullValue": "\\N", "inferSchema": "true", "escape": '"'}
_TSV = {"sep": "\t", "nullValue": "\\N", "inferSchema": "true",
        "quote": "\u0000"}

# name → (reader kind, read options)
FORMATS: dict[str, tuple[str, dict[str, Any]]] = {
    "Parquet": ("parquet", {}),
    "ORC": ("orc", {}),
    "Avro": ("avro", {}),
    # Arrow = IPC random-access file, ArrowStream = IPC stream
    # (registerFormats.cpp:31-34 declares both); Native ≙ Arrow IPC
    # stream, the open-ecosystem form of the reference's only live
    # format code (columns serialized block-wise)
    "Arrow": ("arrow-ipc-file", {}),
    "ArrowStream": ("arrow-ipc-stream", {}),
    "Native": ("arrow-ipc-stream", {}),
    "CSV": ("csv", _CSV),
    "CSVWithNames": ("csv", {**_CSV, "header": "true"}),
    **dict.fromkeys(("TabSeparated", "TSV"), ("csv", _TSV)),
    **dict.fromkeys(("TabSeparatedWithNames", "TSVWithNames"),
                    ("csv", {**_TSV, "header": "true"})),
    # a names row, then a row of CH types: the types give the structure
    # when the statement gives none
    "CSVWithNamesAndTypes": ("names-types", _CSV),
    **dict.fromkeys(("TabSeparatedWithNamesAndTypes",
                     "TSVWithNamesAndTypes"), ("names-types", _TSV)),
    "JSONEachRow": ("json", {}),
    # rows are top-level JSON arrays (or objects of JSON strings): each
    # row parsed as array<string> / map<string,string>, JVM-side
    **dict.fromkeys(("JSONCompactEachRow", "JSONCompactStringsEachRow"),
                    ("json-compact-rows", {})),
    "JSONStringsEachRow": ("json-strings-rows", {}),
    # key=value pairs separated by tabs
    "TSKV": ("tskv-rows", {}),
    # regex-per-line input (reference registerInputFormatRegexp;
    # settings format_regexp / format_regexp_skip_unmatched drive it)
    "Regexp": ("regexp-rows", {}),
    "LineAsString": ("text", {}),
    "JSONAsString": ("json-as-string", {}),
    "Values": ("values", {}),
    **dict.fromkeys(("RowBinary", "MsgPackEachRow", "CapnProto"),
                    ("bytes", {})),
    "RawBLOB": ("binaryFile", {}),
    "Null": ("noop", {}),
}

_COMPRESSION = {"gzip": "gzip", "gz": "gzip", "zstd": "zstd", "lz4": "lz4",
                "snappy": "snappy", "none": "none"}

# file extension → format, for a statement that names none
_EXTENSIONS = {"parquet": "Parquet", "orc": "ORC", "avro": "Avro",
               "arrow": "Arrow", "csv": "CSV", "tsv": "TSV",
               "json": "JSONEachRow", "jsonl": "JSONEachRow",
               "ndjson": "JSONEachRow"}


class Inline(str):
    """Data written in the statement itself (``INSERT … FORMAT fmt
    <data>``, ``format(fmt, 'data')``): a ``read_format`` source that is
    the data, not a path to it. It reaches the JVM as a local relation,
    so the frame reads no file and holds its rows in one partition.
    ``build`` is the statement's builder scope: FORMAT Values data
    evaluates its expression cells with it, so they see the session's
    settings, UDFs, dictionaries and query parameters."""

    build: Callable | None

    def __new__(cls, text: str, build: Callable | None = None) -> "Inline":
        self = super().__new__(cls, text)
        self.build = build
        return self


def read_format(spark: SparkSession, fmt: str | None, source: str,
                schema: str | None = None,
                settings: dict | None = None) -> DataFrame:
    """The rows of ``source`` — a path, or ``Inline`` data — in input
    FORMAT ``fmt`` (None: guessed from the file extension, else
    Parquet). ``schema`` is the CH structure (``'a UInt64, s String'``;
    a Spark type name such as ``long`` reads too): the frame has exactly
    its columns, in order, of its types. Without one, the format's own
    names and inferred types stand, and a text format without a names
    row names its columns c1…cN, as ClickHouse does. ``settings`` are
    the session's (``format_regexp``, ``format_regexp_skip_unmatched``).

    Text cells are read as strings and typed by one rule (``_typed``),
    the inverse of the escaping rule the format writes under: TSV
    unescapes, composites parse from their literal text, UInt64 keeps
    values above 2^63 (two's complement, as stored)."""
    # a gzip file's extension is the one before .gz
    fmt = fmt or _EXTENSIONS.get(
        source.removesuffix(".gz").rpartition(".")[2].lower(), "Parquet")
    kind, opts = FORMATS.get(fmt, ("noop", {}))
    if kind == "noop":
        raise ValueError(f"FORMAT {fmt} cannot be read")
    cols = parse_structure(schema) if schema else None
    if kind == "values":
        return values_frame(spark, parse_values(_text(source)),
                            [n for n, _ in cols] if cols else None,
                            [t for _, t in cols] if cols else None,
                            source.build if isinstance(source, Inline)
                            else None)
    if kind in ("parquet", "orc", "avro", "arrow-ipc-file",
                "arrow-ipc-stream", "binaryFile", "bytes"):
        df = _read_binary(spark, fmt, kind, source, cols)
    else:
        df, cols = _read_text(spark, fmt, kind, opts, source, cols,
                              settings or {})
        rule = TEXT_FORMATS[fmt].rule if fmt in TEXT_FORMATS else "Raw"
        if cols is not None:
            df = df.select(*[
                _typed(F.col(f"`{c}`"), f.dataType, t, rule).alias(f.name)
                for c, f, (_, t) in zip(df.columns, _struct(cols).fields,
                                        cols)])
        else:
            if kind == "csv" and "header" not in opts:
                df = df.toDF(*[f"c{i + 1}" for i in range(len(df.columns))])
            if rule == "Escaped":
                df = df.select(*[
                    _unescape(F.col(f"`{f.name}`")).alias(f.name)
                    if isinstance(f.dataType, T.StringType)
                    else F.col(f"`{f.name}`") for f in df.schema.fields])
    return df.coalesce(1) if isinstance(source, Inline) else df


def _spark_type(t: str) -> str:
    """The Spark type of structure type ``t``: a CH type, or a Spark
    type name (``long``); a name that is neither is an unknown CH
    type."""
    try:
        return ch_type_to_spark(t)
    except ValueError:
        try:
            _ddl_struct(f"`x` {t}")
        except Exception:
            raise ValueError(f"unknown type in structure: {t}") from None
        return t


def _struct(cols: list[tuple[str, str]], text: bool = False
            ) -> T.StructType:
    """The Spark schema of structure ``cols``; all strings when
    ``text``."""
    return _ddl_struct(", ".join(
        f"`{n}` {'string' if text else _spark_type(t)}" for n, t in cols))


def _text(source: str) -> str:
    if isinstance(source, Inline):
        return source
    with open(source, encoding="utf-8") as fh:
        return fh.read()


def _read_binary(spark: SparkSession, fmt: str, kind: str, source: str,
                 cols: list | None) -> DataFrame:
    """A binary format: the structure selects and casts a
    self-describing format's columns by name (by position when the
    names differ), and decodes a byte codec's rows."""
    st = _struct(cols) if cols else None
    if kind == "bytes":
        if st is None:
            raise ValueError(f"FORMAT {fmt} requires a structure")
        if isinstance(source, Inline):
            data = source.encode("utf-8")
        else:
            with open(source, "rb") as fh:
                data = fh.read()
        return BYTE_DECODERS[fmt](spark, data, ", ".join(
            f"`{n}` {t}" for n, t in cols))
    if isinstance(source, Inline):
        raise ValueError(f"FORMAT {fmt} reads a file, not inline data")
    if kind.startswith("arrow-ipc"):
        with open(source, "rb") as fh:
            table = (pa.ipc.open_file(fh) if kind == "arrow-ipc-file"
                     else pa.ipc.open_stream(fh)).read_all()
        df = spark.createDataFrame(table)
    else:
        df = spark.read.format(kind).load(source)
    if st is None:
        return df
    names = [f.name for f in st.fields]
    src = names if set(names) <= set(df.columns) else df.columns
    return df.select(*[F.col(f"`{c}`").cast(f.dataType).alias(f.name)
                       for c, f in zip(src, st.fields)])


def _read_text(spark: SparkSession, fmt: str, kind: str, opts: dict,
               source: str, cols: list | None, settings: dict
               ) -> tuple[DataFrame, list | None]:
    """A text format's cells, as strings (of the structure's columns when
    there is one) — or, with no structure, as Spark's reader infers them
    — and the structure (a names-and-types header supplies one)."""
    if kind == "names-types":
        # line 1 names the columns, line 2 types them: the reader takes
        # line 1 as its header, and the row equal to line 2 goes
        head = _records(_head(source), kind, opts)[:2]
        names, types = (_fields(line, opts) for line in head)
        cols = cols or list(zip(names, types))
        df = _scan(spark, "csv", {**opts, "header": "true"}, source,
                   _struct(cols, text=True))
        same = [F.col(f"`{c}`") == t for c, t in zip(df.columns, types)]
        return df.where(~F.coalesce(
            functools.reduce(lambda a, b: a & b, same), F.lit(False))), cols
    if kind in ("csv", "json"):
        return _scan(spark, kind, opts, source,
                     cols and _struct(cols, text=True)), cols
    if kind == "json-as-string":
        if isinstance(source, Inline):
            return local_frame(spark, [(r,) for r in split_json_rows(
                source)], "json string"), cols
        # each partition of the file's lines splits on the executors (a
        # row must not span two partitions, as in CH's parallel parsing)
        split = _json_row_splitter()
        return spark.createDataFrame(spark.read.text(source).rdd
                                     .mapPartitions(lambda part: (
                                         (r,) for r in split(
                                             x.value for x in part))),
                                     "json string"), cols
    lines = _lines(spark, source, kind, opts)
    if kind == "text":
        return lines, cols
    if cols is None:
        raise ValueError(f"FORMAT {fmt} requires a structure")
    v = F.col("value")
    if kind == "json-compact-rows":
        arr = F.from_json(v, "array<string>")
        cells = [F.element_at(arr, i + 1) for i in range(len(cols))]
    elif kind == "json-strings-rows":
        m = F.from_json(v, "map<string,string>")
        cells = [F.element_at(m, n) for n, _ in cols]
    elif kind == "tskv-rows":
        m = F.str_to_map(v, F.lit("\t"), F.lit("="))
        cells = [F.nullif(F.element_at(m, n), F.lit("\\N"))
                 for n, _ in cols]
    else:
        # Regexp: group i binds column i; an unmatched line raises, as
        # CH's "doesn't match the regexp", unless
        # format_regexp_skip_unmatched = 1
        regex = str(settings.get("format_regexp", "")).strip("'\"")
        if not regex:
            raise ValueError(
                "FORMAT Regexp requires SET format_regexp = '...'")
        skip = str(settings.get("format_regexp_skip_unmatched", 0)) \
            .strip("'\"").lower() in ("1", "true")
        matched = v.rlike(regex)
        lines = lines.where(matched) if skip else lines.select(
            F.when(matched, v).otherwise(F.raise_error(F.concat(
                F.lit('Line "'), v, F.lit('" doesn\'t match the regexp '
                                          '(format_regexp_skip_unmatched=0)')
            ))).alias("value"))
        cells = [F.regexp_extract(v, regex, i + 1)
                 for i in range(len(cols))]
    return lines.select(*[c.alias(n) for c, (n, _) in zip(cells, cols)]), \
        cols


def _head(source: str) -> str:
    """The first lines of ``source`` (enough for two header rows)."""
    if isinstance(source, Inline):
        return source
    with open(source, encoding="utf-8") as fh:
        return "".join(fh.readline() for _ in range(2))


def _fields(line: str, opts: dict) -> list[str]:
    """The cells of one header line."""
    import csv
    if opts.get("sep") == "\t":
        return line.split("\t")
    return next(csv.reader([line]))


def _records(text: str, kind: str, opts: dict) -> list[str]:
    """Inline text split into the records a reader parses one at a time:
    JSON rows — several may share a line — by bracket balance, a CSV
    record across the newlines inside its quotes, any other row by
    line. Blank records are dropped, as a file's are (``_lines``), but
    for LineAsString, whose every line is a row."""
    if kind.startswith("json"):
        return split_json_rows(text)
    out: list[str] = []
    quoted = kind in ("csv", "names-types") and opts.get("quote") != "\u0000"
    for line in text.removesuffix("\n").split("\n") if text else []:
        line = line.removesuffix("\r")
        if out and quoted and out[-1].count('"') % 2:
            out[-1] += "\n" + line
        else:
            out.append(line)
    return out if kind == "text" else [r for r in out if r.strip()]


def _lines(spark: SparkSession, source: str, kind: str,
           opts: dict) -> DataFrame:
    """One ``value`` row per record of ``source``; blank records
    dropped but for LineAsString."""
    if isinstance(source, Inline):
        return local_frame(spark, [(r,) for r in _records(source, kind,
                                                          opts)],
                           "value string")
    lines = spark.read.text(source)
    return lines if kind == "text" else lines.where(
        F.length(F.trim("value")) > 0)


def _scan(spark: SparkSession, kind: str, opts: dict, source: str,
          schema: T.StructType | None) -> DataFrame:
    """Spark's csv/json reader over a file, or over the records of
    inline data (``DataFrameReader.csv/json(Dataset[String])``)."""
    reader = spark.read.format(kind).options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    if not isinstance(source, Inline):
        if kind == "csv" and opts.get("quote") != "\u0000" \
                and _spans_lines(spark, source):
            reader = reader.option("multiLine", "true")
        return reader.load(source)
    ds = getattr(_lines(spark, source, kind, opts)._jdf, "as")(
        spark._jvm.org.apache.spark.sql.Encoders.STRING())
    return DataFrame(getattr(reader._jreader, kind)(ds), spark)


def _spans_lines(spark: SparkSession, path: str) -> bool:
    """Whether a CSV record of ``path`` spans lines: some line holds an
    odd number of quotes. Only then is the file read with Spark's
    multiLine, which parses each file in one task; otherwise it splits.
    A JVM scan that stops at the first such line."""
    v = F.col("value")
    quotes = F.octet_length(v) - F.octet_length(F.replace(v, F.lit('"'),
                                                          F.lit("")))
    return not spark.read.text(path).where(quotes % 2 == 1).isEmpty()


def _typed(c: Column, dt, ch: str, rule: str) -> Column:
    """A text cell, written under escaping ``rule``, as a value of Spark
    type ``dt`` (CH type ``ch``): the inverse of ``value_text``."""
    if isinstance(dt, T.StringType):
        return _unescape(c) if rule == "Escaped" else c
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        # JSON formats write JSON (64-bit integers quoted); the rest
        # write CH literals, whose 'strings' read as JSON once their
        # quotes swap. Leaves parse as text, then cast.
        return F.from_json(c if rule == "JSON"
                           else F.regexp_replace(c, "'", '"'),
                           _text_leaves(dt)).cast(dt)
    if ch.strip() == "UInt64":
        # stored two's complement in a Long: conv to a signed base reads
        # 18446744073709551615 as -1
        return F.conv(F.trim(c), 10, -10).cast("long")
    return c.try_cast(dt)


def _text_leaves(dt):
    """``dt`` with every scalar leaf a string."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_text_leaves(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_text_leaves(dt.keyType), _text_leaves(dt.valueType))
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _text_leaves(f.dataType))
                             for f in dt.fields])
    return T.StringType()


def _unescape(c: Column) -> Column:
    """CH Escaped input (TabSeparated, TSKV): \\t, \\n, \\r, \\' and
    \\\\ decoded; a sentinel keeps an escaped backslash from starting
    another escape. A JVM replace chain."""
    c = F.replace(c, F.lit("\\\\"), F.lit("\x00"))
    for esc, real in (("\\t", "\t"), ("\\n", "\n"), ("\\r", "\r"),
                      ("\\'", "'")):
        c = F.replace(c, F.lit(esc), F.lit(real))
    return F.replace(c, F.lit("\x00"), F.lit("\\"))


def split_json_rows(text: str) -> list[str]:
    """Concatenated JSON rows — ``{..} {..}`` objects or ``[..] [..]``
    arrays, on any whitespace/newline layout — one per entry."""
    return list(_json_row_splitter()(text.split("\n"))) \
        or ([text] if text.strip() else [])


def _json_row_splitter() -> Callable:
    """A function from lines to the JSON rows they hold, however the
    rows share or span lines. Depth counts both bracket kinds, so
    ``[1, {"k": 2}]`` stays one row; string- and escape-aware. Built as
    a closure, so Spark ships it to executors by value."""
    def split(lines):
        depth, in_str, esc, pending = 0, False, False, []
        for line in lines:
            start = 0 if depth else None
            for i, ch in enumerate(line):
                if in_str:
                    if esc:
                        esc = False
                    elif ch == "\\":
                        esc = True
                    elif ch == '"':
                        in_str = False
                    continue
                if ch == '"':
                    in_str = True
                elif ch in "{[":
                    if depth == 0:
                        start = i
                    depth += 1
                elif ch in "}]" and depth:
                    depth -= 1
                    if depth == 0:
                        yield "\n".join(pending + [line[start:i + 1]])
                        pending, start = [], None
            if depth:
                pending.append(line[start:])
    return split


@functools.lru_cache(maxsize=256)
def _ddl_struct(schema: str) -> T.StructType:
    return _parse_datatype_string(schema)


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: str | list[str]) -> DataFrame:
    """Driver-side rows as a LocalRelation: they reach the JVM as one
    Arrow table, so reading the frame runs no Python worker, unlike a
    list given to createDataFrame (a LogicalRDD). ``schema`` is a DDL
    string, or column names to infer types from the rows. Timestamps
    convert as the list path does, so a naive datetime reads back
    unchanged."""
    struct = (_ddl_struct(schema) if isinstance(schema, str)
              else spark._inferSchemaFromList(rows, schema))
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array([f.dataType.toInternal(v) for v in col]
                  if isinstance(f.dataType, T.TimestampType) else col,
                  type=t)
         for col, f, t in zip(cols, struct.fields, arrow.types)],
        schema=arrow), struct)


def parse_values(text: str) -> list[list]:
    """``FORMAT Values`` data — ``(1, 'a'), (2, 'b')`` — as the row
    expressions of an ``INSERT … VALUES``."""
    from ..plans.statements import parse_statement
    return parse_statement("INSERT INTO t VALUES " + text).values or []


def values_frame(spark: SparkSession, rows: list[list],
                 names: list[str] | None = None,
                 types: list[str] | None = None,
                 build: Callable | None = None) -> DataFrame:
    """Rows written as SQL — INSERT … VALUES, FORMAT Values, values(),
    INSERT INTO FUNCTION … VALUES — as a frame with columns ``names``
    (c1…cN when None) of CH ``types`` (inferred from the rows when
    None). Literal rows become one Arrow literal frame; a row holding an
    expression (CH evaluates them) or a literal of another type than
    its column (10 for a Float64) lowers instead to a UNION ALL of
    FROM-less SELECTs that ``build`` (the builder over the caller's
    scope) evaluates JVM-side. One partition: the rows are in the
    statement, and an INSERT of them writes one part."""
    width = max((len(r) for r in rows), default=1)
    names = names or [f"c{i}" for i in range(1, width + 1)]
    if types:
        schema = ", ".join(f"`{n}` {_ingest_type(t)}"
                           for n, t in zip(names, types))
    else:
        schema = names if rows else ", ".join(f"`{n}` string" for n in names)
    try:
        df = local_frame(spark, [tuple(literal_py(v) for v in row)
                                 for row in rows], schema)
        cast = [(n, t) for n, t in zip(names, types or [])
                if _ingest_type(t) != _spark_type(t)]
    except (ValueError, TypeError, OverflowError):
        from ..plans.ast_nodes import Alias, SelectQuery, UnionQuery
        if types:
            _check_int64_literals(rows, names, types)
        sels = [SelectQuery(select=[Alias(v, n) for v, n in zip(row, names)])
                for row in rows]
        ast = sels[0] if len(sels) == 1 else UnionQuery(
            sels, ["all"] * (len(sels) - 1))
        if build is None:
            from ..plans.builder import build as _build
            df = _build(spark, ast, {})
        else:
            df = build(ast)
        cast = list(zip(names, types or []))
    if cast:
        df = df.withColumns({n: F.col(f"`{n}`").cast(_spark_type(t))
                             for n, t in cast})
    return df.coalesce(1)


def _ingest_type(ch: str) -> str:
    """The Arrow literal frame's type for a column of type ``ch``:
    date/time literals arrive as strings and decimals as floats, and
    the frame casts them to the column type."""
    t = _spark_type(ch)
    if t in ("timestamp", "date"):
        return "string"
    return "double" if t.startswith("decimal") else t


def _check_int64_literals(rows, names, types) -> None:
    """A VALUES literal that fits no 64-bit integer cannot go into an
    integer column — the expression path's cast would store 0. In-range
    literals keep CH's wrap-around."""
    for row in rows:
        for v, c, t in zip(row, names, types):
            if _spark_type(t) not in ("tinyint", "smallint", "int", "long"):
                continue
            try:
                x = literal_py(v)
            except ValueError:
                continue
            if isinstance(x, int) and not isinstance(x, bool) \
                    and not -(1 << 63) <= x < (1 << 64):
                raise ValueError(
                    f"INSERT VALUES: {x} does not fit a 64-bit integer "
                    f"(column {c} {t})")


def literal_py(node):
    """The Python value of a VALUES literal; ValueError for an
    expression."""
    from ..plans.ast_nodes import (ArrayLiteral, FuncCall, Literal,
                                   TupleLiteral)
    if isinstance(node, Literal):
        return node.value
    if isinstance(node, ArrayLiteral):
        return [literal_py(i) for i in node.items]
    if isinstance(node, TupleLiteral):
        return tuple(literal_py(i) for i in node.items)
    if isinstance(node, FuncCall) and node.name == "negate":
        return -literal_py(node.args[0])
    if isinstance(node, FuncCall) and node.name in ("toDate", "toDateTime"):
        return literal_py(node.args[0])
    if isinstance(node, FuncCall) and node.name == "array":
        return [literal_py(i) for i in node.args]
    if isinstance(node, FuncCall) and node.name == "tuple":
        return tuple(literal_py(i) for i in node.args)
    if isinstance(node, FuncCall) and node.name == "map":
        items = [literal_py(i) for i in node.args]
        return dict(zip(items[0::2], items[1::2]))
    raise ValueError(f"INSERT VALUES supports literals, got {node}")


def write_format(df: DataFrame, fmt: str, path: str,
                 compression: str | None = None,
                 settings: dict | None = None) -> None:
    """``SELECT ... INTO OUTFILE 'path' [COMPRESSION 'm'] FORMAT fmt``
    and ``INSERT INTO FUNCTION file(path, fmt)``: ONE file at ``path``.
    A text format writes exactly the text the console shows (plus the
    final newline), compressed with COMPRESSION; the byte codecs and
    Spark's columnar writers are OUTFILE-only."""
    if fmt in TEXT_FORMATS:
        _write_text(df, fmt, path, settings or {}, compression)
        return
    if fmt in BYTE_CODECS:
        with open(path, "wb") as fh:
            fh.write(BYTE_CODECS[fmt](df))
        return
    name = FORMATS.get(fmt, ("",))[0]
    if name == "noop":  # FORMAT Null — execute, discard rows
        df.write.format("noop").mode("overwrite").save()
        return
    if name.startswith("arrow-ipc"):
        # INTO OUTFILE is a single client-side file in CH too
        # (ClientBase writes the whole result locally), so a driver-side
        # df.toArrow() matches semantics; for distributed Arrow output
        # at scale use FORMAT Parquet instead. IPC body compression is
        # buffer-level (lz4/zstd only, per the Arrow spec).
        opts = None
        if compression:
            codec = {"lz4": "lz4", "zstd": "zstd"}.get(compression.lower())
            if codec is None:
                raise ValueError(
                    f"Arrow IPC supports lz4/zstd compression, "
                    f"not {compression!r}")
            opts = pa.ipc.IpcWriteOptions(compression=codec)
        table = df.toArrow()
        new = (pa.ipc.new_file if name == "arrow-ipc-file"
               else pa.ipc.new_stream)
        with open(path, "wb") as fh, \
                new(fh, table.schema, options=opts) as w:
            w.write_table(table)
        return
    if name not in ("parquet", "orc", "avro"):
        raise ValueError(f"FORMAT {fmt} cannot be written")
    _write_single(df.coalesce(1), name, _codec(compression), path)


def _write_text(df: DataFrame, fmt: str, path: str, settings: dict,
                compression: str | None) -> None:
    """A text FORMAT into one file through Spark's text writer, which
    compresses. Row formats write their line column from the executors,
    after the header lines; document formats write the text
    ``render_text`` builds — the same text either way."""
    spec = TEXT_FORMATS[fmt]
    spark = df.sparkSession
    if spec.doc is not None or spec.sep != "\n":
        text = render_text(df, fmt, settings)
        lines = local_frame(spark, [(text,)] if text else [],
                            "value string")
    else:
        types = column_ch_types(df)
        lines = _line_frame(df, spec, types).coalesce(1)
        if spec.head:
            # the header is its own first part: parts concatenate in order
            lines = local_frame(spark, [(h,) for h in spec.head(
                df.columns, types)], "value string").coalesce(1) \
                .union(lines)
    _write_single(lines, "text", _codec(compression), path)


def _codec(compression: str | None) -> dict:
    """A Spark writer's options for COMPRESSION ``compression``."""
    return {"compression": _COMPRESSION[compression.lower()]} \
        if compression else {}


def _write_single(df: DataFrame, name: str, opts: dict, path: str) -> None:
    """CH INTO OUTFILE produces ONE file at the named path (ClientBase
    writes the result client-side); Spark's writer emits a directory of
    part files. A text writer's parts — compressed or not — concatenate
    into it in order; a columnar writer's one part moves into place."""
    import glob
    import shutil
    tmp = path + ".spark-out"
    df.write.format(name).options(**opts).mode("overwrite").save(tmp)
    parts = sorted(p for p in glob.glob(os.path.join(tmp, "part-*"))
                   if not p.endswith(".crc"))
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    if name == "text":
        with open(path, "wb") as out:
            for p in parts:
                with open(p, "rb") as part:
                    shutil.copyfileobj(part, out)
    elif len(parts) == 1:
        shutil.move(parts[0], path)
    else:   # zero parts (empty writer quirk): keep the directory form
        shutil.move(tmp, path)
    shutil.rmtree(tmp, ignore_errors=True)


def _uleb128(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _read_uleb128(data: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


# --- byte codecs ------------------------------------------------------------
# RowBinary, MsgPackEachRow and CapnProto carry a value by its CH type:
# ``column_ch_types(df)`` on write, the structure's types on read.

# fixed-width CH types → (bytes, little-endian struct char) on the wire
WIRE_WIDTH = {"UInt8": (1, "B"), "UInt16": (2, "H"), "UInt32": (4, "I"),
              "UInt64": (8, "Q"), "Int8": (1, "b"), "Int16": (2, "h"),
              "Int32": (4, "i"), "Int64": (8, "q"), "Float32": (4, "f"),
              "Float64": (8, "d"), "Bool": (1, "B"), "Date": (2, "H"),
              "DateTime": (4, "I")}
_EPOCH = datetime(1970, 1, 1)


def _base(ch: str) -> str:
    """The CH type a byte codec writes for ``ch``: canonical, with
    Nullable/LowCardinality looked through."""
    return unwrap(canonical_type(ch))[0]


def wire_width(ch: str) -> tuple[int, str] | None:
    """(bytes, struct char) of a fixed-width CH type (DateTime64 is
    Int64 ticks); None for a variable-width type."""
    base = _base(ch)
    if dt64_scale(base) is not None:
        return WIRE_WIDTH["Int64"]
    return WIRE_WIDTH.get("DateTime" if base.startswith("DateTime(")
                          else base)


def is_text(ch: str) -> bool:
    """Whether CH type ``ch`` is stored as a Spark string."""
    return is_ch_type(ch) and ch_type_to_spark(_base(ch)) == "string"


def to_wire(v, ch: str):
    """A stored value as the number the byte formats carry for CH type
    ``ch``: Date as days and DateTime as seconds since the epoch,
    DateTime64(s) as ticks of 10^-s seconds, a boolean as 0/1, UInt64
    as its unsigned value (stored two's-complement); other values as
    they are."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        us = (v - _EPOCH) // timedelta(microseconds=1)
        scale = dt64_scale(_base(ch))
        return us // 10**6 if scale is None else us * 10**scale // 10**6
    if isinstance(v, date):
        return (v - _EPOCH.date()).days
    if isinstance(v, bool):
        return int(v)
    if _base(ch) == "UInt64" and isinstance(v, int) and v < 0:
        return v + (1 << 64)
    return v


def from_wire(x, ch: str):
    """The stored value of wire value ``x`` of CH type ``ch`` (the
    inverse of ``to_wire``)."""
    base = _base(ch)
    if x is None:
        return None
    if base == "Date":
        return _EPOCH.date() + timedelta(days=x)
    if base.startswith("DateTime"):
        return _EPOCH + timedelta(
            microseconds=x * 10**6 // 10**(dt64_scale(base) or 0))
    if base == "Bool":
        return bool(x)
    if base in ("Float32", "Float64"):
        return float(x)
    if base == "UInt64" and x >= 1 << 63:
        return x - (1 << 64)
    return int(x) if base in CH_NUMERIC else x


def byte_columns(structure: str) -> tuple[list[str], T.StructType]:
    """Each column's CH type in a byte decoder's structure (a Spark type
    name such as ``long`` reads too), and the decoded frame's schema."""
    cols = parse_structure(structure)
    st = _struct(cols)
    return [canonical_type(t) if is_ch_type(t) else spark_to_ch(f.dataType)
            for (_, t), f in zip(cols, st.fields)], st


def _rb_value(v, ch: str) -> bytes:
    width = wire_width(ch)
    if width is not None:
        return struct.pack("<" + width[1], to_wire(v, ch))
    if is_text(ch):
        raw = v.encode("utf-8")
        return _uleb128(len(raw)) + raw
    raise ValueError(f"RowBinary: unsupported type {ch}")


def to_row_binary(df: DataFrame) -> bytes:
    """CH ``RowBinary``: rows of fixed-width little-endian scalars;
    String as ULEB128 length + UTF-8 bytes; Date as uint16 days since
    epoch; DateTime as uint32 unix seconds; DateTime64 as int64 ticks
    (RowBinary wire layout per the CH format docs; the reference
    registers the name in ``registerFormats.cpp``)."""
    types = column_ch_types(df)
    return b"".join(_rb_value(v, t) for row in df.collect()
                    for v, t in zip(row, types))


def from_row_binary(spark: SparkSession, data: bytes,
                    structure: str) -> DataFrame:
    """Decode RowBinary bytes into a DataFrame of CH ``structure``."""
    types, st = byte_columns(structure)
    rows, pos = [], 0
    while pos < len(data):
        row = []
        for t in types:
            width = wire_width(t)
            if width is not None:
                (x,) = struct.unpack_from("<" + width[1], data, pos)
                pos += width[0]
                row.append(from_wire(x, t))
            elif is_text(t):
                ln, pos = _read_uleb128(data, pos)
                row.append(data[pos:pos + ln].decode("utf-8"))
                pos += ln
            else:
                raise ValueError(f"RowBinary: unsupported type {t}")
        rows.append(tuple(row))
    return spark.createDataFrame(rows, st)


# --- MsgPackEachRow ---------------------------------------------------------
# MessagePack wire encoding per the public spec (msgpack.org); the
# reference declares the format (registerFormats.cpp:41-42, registration
# commented out at :114-115). Like CH MsgPackEachRow, each row is its
# fields' values serialized back-to-back (no per-row array header) —
# the structure drives decoding. Numbers, Date, DateTime and DateTime64
# carry their ``to_wire`` number, Bool a MessagePack boolean.

def _mp_int(v: int) -> bytes:
    """An integer in its smallest MessagePack form."""
    if -32 <= v <= 0x7F:
        return v.to_bytes(1, "big", signed=True)    # fixint
    for i, width in enumerate((1, 2, 4, 8)):
        if 0 <= v < 1 << 8 * width:
            return bytes([0xCC + i]) + v.to_bytes(width, "big")
        if -(1 << 8 * width - 1) <= v < 0:
            return bytes([0xD0 + i]) + v.to_bytes(width, "big", signed=True)
    raise ValueError(f"int out of MessagePack range: {v}")


def _mp_head(n: int, fix: int | None, fix_max: int, c8: int | None,
             c16: int, c32: int) -> bytes:
    """A MessagePack length header (fix form up to ``fix_max``)."""
    if fix is not None and n <= fix_max:
        return bytes([fix | n])
    if c8 is not None and n < 1 << 8:
        return bytes([c8, n])
    if n < 1 << 16:
        return bytes([c16]) + struct.pack(">H", n)
    return bytes([c32]) + struct.pack(">I", n)


def _mp_value(v, t: str) -> bytes:
    """One value of CH type ``t`` as MessagePack."""
    if v is None:
        return b"\xc0"
    base = _base(t)
    if base.startswith("Array("):
        return _mp_head(len(v), 0x90, 15, None, 0xDC, 0xDD) + b"".join(
            _mp_value(e, base[6:-1]) for e in v)
    if base == "Bool":
        return b"\xc3" if v else b"\xc2"
    if base == "Float32":
        return b"\xca" + struct.pack(">f", v)
    if base == "Float64":
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, str):
        raw = v.encode("utf-8")
        return _mp_head(len(raw), 0xA0, 31, 0xD9, 0xDA, 0xDB) + raw
    if isinstance(v, (bytes, bytearray)):
        return _mp_head(len(v), None, 0, 0xC4, 0xC5, 0xC6) + bytes(v)
    x = to_wire(v, t)
    if isinstance(x, int):
        return _mp_int(x)
    raise ValueError(f"MsgPack: unsupported type {t}")


def to_msgpack(df: DataFrame) -> bytes:
    """CH ``MsgPackEachRow`` output: rows of MessagePack values."""
    types = column_ch_types(df)
    return b"".join(_mp_value(v, t) for row in df.collect()
                    for v, t in zip(row, types))


# length-prefixed markers → (kind, bytes of the length)
_MP_SIZED = {0xD9: ("str", 1), 0xDA: ("str", 2), 0xDB: ("str", 4),
             0xC4: ("bin", 1), 0xC5: ("bin", 2), 0xC6: ("bin", 4),
             0xDC: ("array", 2), 0xDD: ("array", 4)}


def _mp_decode(data: bytes, pos: int):
    """Decode one MessagePack value → (python value, new pos)."""
    b = data[pos]
    pos += 1
    if b <= 0x7F or b >= 0xE0:
        return (b if b <= 0x7F else b - 256), pos      # fixint
    if b in (0xC0, 0xC2, 0xC3):
        return {0xC0: None, 0xC2: False, 0xC3: True}[b], pos
    if 0xCA <= b <= 0xD3:
        c = ">" + "fdBHIQbhiq"[b - 0xCA]
        return struct.unpack_from(c, data, pos)[0], pos + struct.calcsize(c)
    if 0x90 <= b <= 0xBF:
        kind, n = ("str", b & 0x1F) if b >= 0xA0 else ("array", b & 0x0F)
    elif b in _MP_SIZED:
        kind, size = _MP_SIZED[b]
        n = int.from_bytes(data[pos:pos + size], "big")
        pos += size
    else:
        raise ValueError(f"MsgPack: unsupported marker 0x{b:02x}")
    if kind == "array":
        out = []
        for _ in range(n):
            v, pos = _mp_decode(data, pos)
            out.append(v)
        return out, pos
    raw = data[pos:pos + n]
    return (raw.decode("utf-8") if kind == "str" else bytes(raw)), pos + n


def _from_mp(v, t: str):
    base = _base(t)
    if base.startswith("Array(") and v is not None:
        return [_from_mp(e, base[6:-1]) for e in v]
    return from_wire(v, t)


def from_msgpack(spark: SparkSession, data: bytes,
                 structure: str) -> DataFrame:
    """Decode MsgPackEachRow bytes into a DataFrame of CH ``structure``
    (the value stream is self-describing; the structure's types map
    numbers back to Date/DateTime/Bool and fix the names)."""
    types, st = byte_columns(structure)
    rows, pos = [], 0
    while pos < len(data):
        row = []
        for t in types:
            v, pos = _mp_decode(data, pos)
            row.append(_from_mp(v, t))
        rows.append(tuple(row))
    return spark.createDataFrame(rows, st)


# --- cell serializers -------------------------------------------------------
# ClickHouse writes a value's text once per type and escaping rule
# (ISerialization's Escaped / Quoted / CSV / JSON / Raw / XML text
# variants) and builds every output format from those. ``cell`` is that
# serializer here, a Column expression, so its three callers share it:
# the console collects the serialized cells, INTO OUTFILE writes them
# from the executors, and formatRow is a scalar function. Rules:
#   Escaped     TabSeparated: backslash escapes, NULL is \N
#   Quoted      Values / CH literals: 'strings', NULL is NULL
#   CSV         "strings" with "" doubling, NULL is \N
#   JSON        JSON values; 64-bit ints quoted, nan/inf are null
#   JSONString  the Raw text as a JSON string (the *Strings formats)
#   Raw         the text as is, NULL is \N
#   XML         the text with XML entities, NULL is empty
#   Text        the text as is, NULL is ᴺᵁᴸᴸ (Pretty, Vertical, Markdown)
# Inside a composite every element is Quoted (JSON: JSON), so Array,
# Tuple and Map values read as CH literals: [1,2], (1,'a'), {'k':1}.
# Floats keep Java's text for exponents (1.0E-5, 1.0E20) with an
# integral .0 dropped; nan and ±inf are spelled as CH does.

NULL_TEXT = {"Escaped": "\\N", "Quoted": "NULL", "CSV": "\\N",
             "JSON": "null", "JSONString": "null", "Raw": "\\N",
             "XML": "", "Text": "ᴺᵁᴸᴸ"}


def _replace_all(s: Column, pairs) -> Column:
    for frm, to in pairs:
        s = F.replace(s, F.lit(frm), F.lit(to))
    return s


_ESCAPES = (("\\", "\\\\"), ("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r"))
_QUOTED_ESCAPES = _ESCAPES[:1] + (("'", "\\'"),) + _ESCAPES[1:]
_XML_ENTITIES = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                 ("'", "&apos;"), ('"', "&quot;"))


def _csv_quoted(s: Column) -> Column:
    return F.concat(F.lit('"'), F.replace(s, F.lit('"'), F.lit('""')),
                    F.lit('"'))


def _json_string(s: Column) -> Column:
    """``s`` as a JSON string literal (Jackson's escaping, via to_json
    of a one-element array with the brackets cut off)."""
    j = F.to_json(F.array(s))
    return F.substr(j, F.lit(2), F.length(j) - 2)


# how each rule writes a String value (Date and DateTime text alike)
_STRING_TEXT = {
    "Escaped": lambda s: _replace_all(s, _ESCAPES),
    "Quoted": lambda s: F.concat(
        F.lit("'"), _replace_all(s, _QUOTED_ESCAPES), F.lit("'")),
    "CSV": _csv_quoted,
    "JSON": _json_string,
    "XML": lambda s: _replace_all(s, _XML_ENTITIES),
    "Raw": lambda s: s,
    "Text": lambda s: s,
}
# how each rule wraps a composite's literal text
_COMPOSITE_TEXT = {"CSV": _csv_quoted,
                   "XML": lambda s: _replace_all(s, _XML_ENTITIES)}


def cell(c: Column, dt, rule: str, ch: str | None = None) -> Column:
    """The text of column ``c`` (Spark type ``dt``; ``ch`` is its CH
    type where the result's type overlay gives one) under escaping
    ``rule``, with the rule's NULL text: never NULL."""
    return F.when(c.isNull(), F.lit(NULL_TEXT[rule])).otherwise(
        value_text(c, dt, rule, ch))


def value_text(c: Column, dt, rule: str = "Text",
               ch: str | None = None) -> Column:
    """The text of a non-NULL value of ``c`` under ``rule`` (NULL stays
    NULL); toString of a composite is this, under Text."""
    if rule == "JSONString":
        return _json_string(value_text(c, dt, "Raw", ch))
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        lit = _composite(c, dt, "JSON" if rule == "JSON" else "Quoted")
        return _COMPOSITE_TEXT.get(rule, lambda s: s)(lit)
    base = unwrap(ch)[0] if ch else None
    if isinstance(dt, T.BooleanType):
        yes, no = ("1", "0") if base == "UInt8" else ("true", "false")
        return F.when(c, F.lit(yes)).otherwise(F.lit(no))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # DateTime64(s) writes exactly s fraction digits
        scale = dt64_scale(base)
        return _STRING_TEXT[rule](F.date_format(
            c, "yyyy-MM-dd HH:mm:ss" + ("." + "S" * scale if scale else "")))
    if not isinstance(dt, T.NumericType):
        return _STRING_TEXT[rule](c.cast("string"))
    s = c.cast("string")
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        inf = F.lit(float("inf"))
        if rule == "JSON":
            # output_format_json_quote_denormals = 0: nan/inf are null
            return F.when(F.isnan(c) | (F.abs(c) == inf), F.lit("null")) \
                .otherwise(F.regexp_replace(s, r"^(-?\d+)\.0$", "$1"))
        return (F.when(F.isnan(c), F.lit("nan"))
                .when(c == inf, F.lit("inf"))
                .when(c == -inf, F.lit("-inf"))
                .otherwise(F.regexp_replace(s, r"^(-?\d+)\.0$", "$1")))
    if isinstance(dt, T.DecimalType):
        # output_format_decimal_trailing_zeros = 0: 1.50 prints 1.5
        return F.regexp_replace(
            F.regexp_replace(s, r"(\.\d*?)0+$", "$1"), r"\.$", "")
    if base == "UInt64":
        # UInt64 is stored two's-complement in a Long: conv reads a
        # negative as its unsigned 64-bit value (-1 → 18446744073709551615)
        s = F.when(c < 0, F.conv(s, 10, 10)).otherwise(s)
    if rule == "JSON" and isinstance(dt, T.LongType):
        # output_format_json_quote_64bit_integers = 1
        return F.concat(F.lit('"'), s, F.lit('"'))
    return s


def _composite(c: Column, dt, rule: str) -> Column:
    """Literal text of an Array / Map / Tuple value whose elements are
    written under ``rule`` (Quoted or JSON)."""
    if isinstance(dt, T.ArrayType):
        return F.concat(F.lit("["), F.array_join(
            F.transform(c, _element(dt.elementType, rule)), ","), F.lit("]"))
    if isinstance(dt, T.MapType):
        return F.concat(F.lit("{"), F.array_join(
            F.transform(F.map_entries(c),
                        _entry(dt.keyType, dt.valueType, rule)), ","),
            F.lit("}"))
    # an unnamed Tuple is a JSON array (the reference-era default,
    # output_format_json_named_tuples_as_objects = 0)
    parts: list[Column] = []
    for f in dt.fields:
        parts += [F.lit(",")] if parts else []
        parts.append(cell(c[f.name], f.dataType, rule))
    return F.concat(F.lit("[" if rule == "JSON" else "("), *parts,
                    F.lit("]" if rule == "JSON" else ")"))


# closure factories: a HOF lambda must take exactly the HOF's arguments
def _element(dt, rule: str):
    return lambda x: cell(x, dt, rule)


def _entry(kt, vt, rule: str):
    def key(k):
        # JSON object keys are strings whatever the key type
        return (_json_string(value_text(k, kt, "Raw")) if rule == "JSON"
                else cell(k, kt, rule))
    return lambda e: F.concat(key(e["key"]), F.lit(":"),
                              cell(e["value"], vt, rule))


def _name_text(name: str, rule: str) -> str:
    """A column name or type name (header rows, object keys) under
    ``rule``: names are strings, so only the string branch applies."""
    import json
    if rule in ("JSON", "JSONString"):
        return json.dumps(name, ensure_ascii=False)
    if rule == "CSV":
        return '"' + name.replace('"', '""') + '"'
    pairs = {"Quoted": _QUOTED_ESCAPES, "Escaped": _ESCAPES,
             "XML": _XML_ENTITIES}.get(rule, ())
    for frm, to in pairs:
        name = name.replace(frm, to)
    return f"'{name}'" if rule == "Quoted" else name


def _positional(df: DataFrame) -> DataFrame:
    """``df`` with its columns renamed c0, c1, … (result names may
    repeat)."""
    return df.toDF(*[f"c{i}" for i in range(len(df.columns))])


def _cells(df: DataFrame, rule: str, types: list[str]) -> list[Column]:
    """Every column of ``_positional(df)`` serialized under ``rule``."""
    return [cell(F.col(f"c{i}"), f.dataType, rule, t)
            for i, (f, t) in enumerate(zip(df.schema.fields, types))]


def _collect_cells(df: DataFrame, rule: str, types: list[str],
                   n: int | None = None) -> list[tuple]:
    """Rows of ``df`` as tuples of cell text under ``rule``."""
    out = _positional(df).select(*_cells(df, rule, types))
    if n is not None:
        out = out.limit(n)
    return [tuple(r) for r in out.collect()]


def _line_frame(df: DataFrame, spec: "TextFormat",
                types: list[str]) -> DataFrame:
    """One ``value`` row per result row: the row format's line."""
    line = spec.line(_cells(df, spec.rule, types), df.columns)
    return _positional(df).select(line.alias("value"))


def _is_numeric(ch: str) -> bool:
    """Right-aligned in the Pretty family and Markdown."""
    ch = unwrap(ch)[0]
    return (ch in CH_NUMERIC and ch != "Bool") or ch.startswith("Decimal")


# --- layouts ----------------------------------------------------------------
# A row format writes one line per row from that row's cells (plus header
# lines); a document format builds its whole text from the frame.

@dataclass(frozen=True)
class TextFormat:
    rule: str | None                  # None: format_* settings choose
    line: Callable | None = None      # (cells, names) → Column
    head: Callable | None = None      # (names, types) → header lines
    doc: Callable | None = None       # (df, settings) → text
    sep: str = "\n"                   # between row lines


def _delimited(rule: str, sep: str, open_: str = "", close: str = "",
               names: bool = False, types: bool = False,
               row_sep: str = "\n") -> TextFormat:
    """Cells joined by ``sep`` inside ``open_``…``close``, optionally
    under a names row and a types row written the same way."""
    def line(cells, _names):
        return F.concat(F.lit(open_), F.concat_ws(sep, *cells),
                        F.lit(close))

    def head(col_names, col_types):
        rows = [col_names] * names + [col_types] * types
        return [open_ + sep.join(_name_text(x, rule) for x in r) + close
                for r in rows]
    return TextFormat(rule, line, head if names or types else None,
                      sep=row_sep)


def _keyed(rule: str, open_: str, key: Callable[[str], str], sep: str,
           close: str) -> TextFormat:
    """Cells as ``key(name)``-prefixed values: JSON objects, TSKV."""
    def line(cells, names):
        parts: list[Column] = []
        for i, (n, c) in enumerate(zip(names, cells)):
            parts += [F.lit((sep if i else "") + key(n)), c]
        return F.concat(F.lit(open_), *parts, F.lit(close))
    return TextFormat(rule, line)


def _json_object(rule: str) -> TextFormat:
    return _keyed(rule, "{", lambda n: _name_text(n, "JSON") + ":", ",",
                  "}")


def _object_lines(df: DataFrame) -> list[str]:
    """JSONEachRow lines of ``df``."""
    spec = TEXT_FORMATS["JSONEachRow"]
    return [r[0] for r in
            _line_frame(df, spec, column_ch_types(df)).collect()]


def _json_doc(rule: str, compact: bool):
    """JSON / JSONCompact / JSONStrings: meta, data, totals, extremes,
    rows — clickhouse's document layout."""
    def doc(df, settings=None):
        types = column_ch_types(df)
        main = getattr(df, "_ch_main_df", df)
        tot = getattr(df, "_ch_totals_df", None)
        ext = getattr(df, "_ch_extremes_df", None)
        keys = [_name_text(n, "JSON") for n in main.columns]

        def obj(cells, ind):
            if compact:
                return ind + "[" + ", ".join(cells) + "]"
            return (ind + "{\n" + ",\n".join(
                f"{ind}\t{k}: {c}" for k, c in zip(keys, cells))
                + "\n" + ind + "}")

        rows = _collect_cells(main, rule, types)
        meta = ",\n".join(
            f'\t\t{{\n\t\t\t"name": {k},\n\t\t\t"type": '
            f'{_name_text(t, "JSON")}\n\t\t}}' for k, t in zip(keys, types))
        parts = ['\t"meta":\n\t[\n' + meta + "\n\t]",
                 '\t"data":\n\t[\n'
                 + ",\n".join(obj(r, "\t\t") for r in rows) + "\n\t]"]
        if tot is not None:
            trows = _collect_cells(tot, rule, types, 1)
            if trows:
                parts.append('\t"totals":\n' + obj(trows[0], "\t"))
        if ext is not None:
            lo_hi = _collect_cells(ext, rule, types, 2)
            if len(lo_hi) == 2:
                parts.append('\t"extremes":\n\t{\n\t\t"min":\n'
                             + obj(lo_hi[0], "\t\t") + ',\n\t\t"max":\n'
                             + obj(lo_hi[1], "\t\t") + "\n\t}")
        parts.append(f'\t"rows": {len(rows)}')
        return "{\n" + ",\n\n".join(parts) + "\n}"
    return doc


def _json_columns(compact: bool):
    """JSONColumns / JSONCompactColumns: one array per column."""
    def doc(df, settings=None):
        rows = _collect_cells(df, "JSON", column_ch_types(df))
        cols = ["[" + ",".join(r[i] for r in rows) + "]"
                for i in range(len(df.columns))]
        if compact:
            return "[" + ",".join(cols) + "]"
        return "{\n" + ",\n".join(
            f"\t{_name_text(n, 'JSON')}: {c}"
            for n, c in zip(df.columns, cols)) + "\n}"
    return doc


def _json_object_each_row(df, settings=None) -> str:
    """``JSONObjectEachRow``: a single object keyed row_1, row_2, …"""
    return "{\n" + ",\n".join(f'\t"row_{i}": {obj}' for i, obj
                              in enumerate(_object_lines(df), 1)) + "\n}"


def to_json_each_row_with_progress(df: DataFrame, settings=None) -> str:
    """``JSONEachRowWithProgress``: each row wrapped as {"row": {...}},
    then one final {"progress": {...}} event (CH streams interim
    progress; a completed local result has exactly the final one)."""
    import json
    lines = [f'{{"row":{obj}}}' for obj in _object_lines(df)]
    n = str(len(lines))
    lines.append(json.dumps({"progress": {
        "read_rows": n, "read_bytes": "0", "total_rows_to_read": n}},
        separators=(",", ":")))
    return "\n".join(lines)


def _sql_insert(df, settings=None) -> str:
    """``SQLInsert``: INSERT statements with a VALUES list, batched at
    output_format_sql_insert_max_batch_size (65505) rows per statement,
    into output_format_sql_insert_table_name (``table``)."""
    rows = ["(" + ", ".join(r) + ")"
            for r in _collect_cells(df, "Quoted", column_ch_types(df))]
    cols = ", ".join(df.columns)
    return "\n".join(
        f"INSERT INTO table ({cols}) VALUES "
        + ", ".join(rows[i:i + 65505]) + ";"
        for i in range(0, len(rows), 65505))


def to_pretty(df: DataFrame, n: int = 20, style: str = "compact") -> str:
    """Pretty-family console renderer: ClickHouse's box-drawing grid.

    ┌─a─┬─b──────┐
    │ 1 │ hello  │
    └───┴────────┘

    Numbers right-aligned, everything else left-aligned, NULL rendered
    as ᴺᵁᴸᴸ — matching clickhouse-client's default output format.
    ``style``: 'compact' (above), 'full' (FORMAT Pretty's heavy-ruled
    header box), 'space' (PrettySpace, no grid). Shows the first ``n``
    rows. WITH TOTALS / SET extremes=1 print as separate boxes under a
    "Totals:" / "Extremes:" header, as clickhouse-client does.
    """
    types = column_ch_types(df)
    out = _pretty_box(getattr(df, "_ch_main_df", df), types, n, style)
    tot = getattr(df, "_ch_totals_df", None)
    ext = getattr(df, "_ch_extremes_df", None)
    if tot is not None:
        out += "\n\nTotals:\n" + _pretty_box(tot, types, 1, style)
    if ext is not None:
        out += "\n\nExtremes:\n" + _pretty_box(ext, types, 2, style)
    return out


def _pretty_box(df: DataFrame, types: list[str], n: int,
                style: str) -> str:
    """One result block in a Pretty-family style.

    ``compact`` (the client default): column names embedded in the top
    border — ``┌─a─┬─b──┐``. ``full`` (FORMAT Pretty): heavy-ruled
    header box ``┏━┳━┓ / ┃ name ┃ / ┡━╇━┩`` above the light body grid.
    ``space`` (FORMAT PrettySpace): no grid, space-padded columns with
    a leading space per the published examples."""
    import unicodedata

    def disp_w(s: str) -> int:
        return sum(2 if unicodedata.east_asian_width(c) in "WF" else 1
                   for c in s)

    cells = _collect_cells(df, "Text", types, n)
    names = df.columns
    is_num = [_is_numeric(t) for t in types]
    widths = [max(disp_w(names[i]),
                  *([disp_w(r[i]) for r in cells] or [0]))
              for i in range(len(names))]

    def pad(s: str, w: int, right: bool, fill: str = " ") -> str:
        gap = fill * (w - disp_w(s))
        return gap + s if right else s + gap

    k = len(names)
    body = ["│ " + " │ ".join(
        pad(r[i], widths[i], is_num[i])
        for i in range(k)) + " │" for r in cells]
    foot = "└─" + "─┴─".join("─" * widths[i]
                             for i in range(k)) + "─┘"
    if style == "space":
        # header names right-aligned over numeric columns, single-space
        # column gap, leading space — no borders at all
        head = " " + "   ".join(pad(names[i], widths[i], is_num[i])
                                for i in range(k))
        data = [" " + "   ".join(pad(r[i], widths[i], is_num[i])
                                 for i in range(k)) for r in cells]
        return "\n".join([head.rstrip(), *(d.rstrip() for d in data)])
    if style == "full":
        top = "┏━" + "━┳━".join("━" * widths[i] for i in range(k)) + "━┓"
        hdr = "┃ " + " ┃ ".join(pad(names[i], widths[i], is_num[i])
                                for i in range(k)) + " ┃"
        sep = "┡━" + "━╇━".join("━" * widths[i] for i in range(k)) + "━┩"
        return "\n".join([top, hdr, sep, *body, foot])
    # clickhouse-client right-aligns header names of numeric columns
    head = "┌─" + "─┬─".join(
        pad(names[i], widths[i], is_num[i], "─")
        for i in range(k)) + "─┐"
    return "\n".join([head, *body, foot])


def _pretty(style: str) -> TextFormat:
    return TextFormat("Text", doc=lambda df, settings=None: to_pretty(
        df, style=style))


def to_vertical(df: DataFrame, settings=None) -> str:
    """``Vertical`` output: one ``Row N:`` block per row, a ─ rule under
    the header, column names padded so values align — clickhouse-client's
    ``\\G`` format; Totals/Extremes follow as blocks of their own."""
    types = column_ch_types(df)
    names = df.columns
    width = max((len(c) for c in names), default=0) + 2   # name + ': '

    def block(head: str, rows) -> str:
        return "\n".join([head, "─" * len(head)] + [
            f"{name + ':':<{width}}{v}"
            for row in rows for name, v in zip(names, row)])

    main = getattr(df, "_ch_main_df", df)
    out = "\n\n".join(block(f"Row {i}:", [r]) for i, r in enumerate(
        _collect_cells(main, "Text", types), 1))
    tot = getattr(df, "_ch_totals_df", None)
    ext = getattr(df, "_ch_extremes_df", None)
    for head, frame, m in (("Totals:", tot, 1), ("Extremes:", ext, 2)):
        if frame is not None:
            out += "\n\n" + block(head, _collect_cells(frame, "Text",
                                                         types, m))
    return out


def to_markdown(df: DataFrame, settings=None) -> str:
    """``Markdown`` output: header row, alignment rule (numbers right),
    pipe-escaped cells."""
    types = column_ch_types(df)

    def esc(s):
        return s.replace("|", "\\|")
    out = ["| " + " | ".join(esc(c) for c in df.columns) + " |",
           "|" + "|".join("---:" if _is_numeric(t) else ":---"
                          for t in types) + "|"]
    out += ["| " + " | ".join(esc(c) for c in r) + " |"
            for r in _collect_cells(df, "Text", types)]
    return "\n".join(out)


def to_xml(df: DataFrame, settings=None) -> str:
    """``XML`` document output: meta (name+CH type), data rows, rows
    count — the reference's declared XML layout."""
    types = column_ch_types(df)
    rows = _collect_cells(df, "XML", types)
    tags = [_name_text(n, "XML") for n in df.columns]
    out = ["<?xml version='1.0' encoding='UTF-8' ?>", "<result>",
           "\t<meta>", "\t\t<columns>"]
    for tag, t in zip(tags, types):
        out += ["\t\t\t<column>", f"\t\t\t\t<name>{tag}</name>",
                f"\t\t\t\t<type>{_name_text(t, 'XML')}</type>",
                "\t\t\t</column>"]
    out += ["\t\t</columns>", "\t</meta>", "\t<data>"]
    for r in rows:
        out.append("\t\t<row>")
        out += [f"\t\t\t<{tag}>{v}</{tag}>" for tag, v in zip(tags, r)]
        out.append("\t\t</row>")
    out += ["\t</data>", f"\t<rows>{len(rows)}</rows>", "</result>"]
    return "\n".join(out)


def _rule(name: str) -> str:
    """The escaping rule named by format_custom_escaping_rule or a
    Template placeholder (None is Raw)."""
    rule = "Raw" if name == "None" else name
    if rule not in ("Escaped", "Quoted", "CSV", "JSON", "XML", "Raw"):
        raise ValueError(f"unknown escaping rule {name!r}")
    return rule


def to_custom_separated(df: DataFrame, escaping: str = "Escaped",
                        field_delim: str = "\t",
                        row_before: str = "", row_after: str = "\n",
                        row_between: str = "",
                        result_before: str = "",
                        result_after: str = "",
                        with_names: bool = False) -> str:
    """``CustomSeparated``: the format_custom_* settings drive the
    delimiters; each cell escapes per format_custom_escaping_rule.
    ``with_names`` renders the CustomSeparatedWithNames header as the
    FIRST ROW — after result_before_delimiter and joined to the data
    rows by row_between_delimiter, matching the reference's row
    ordering (the header is just row 0 of the result set)."""
    rule = _rule(escaping)
    rows = _collect_cells(df, rule, column_ch_types(df))
    if with_names:
        rows.insert(0, [_name_text(n, rule) for n in df.columns])
    return (result_before + row_between.join(
        row_before + field_delim.join(r) + row_after for r in rows)
        + result_after)


_TPL_RE = None


def to_template(df: DataFrame, row_format: str,
                row_between_delimiter: str = "\n",
                resultset_format: str | None = None) -> str:
    """``Template`` output: ``${col:Escaping}`` placeholders per row
    (Raw when the escaping is omitted). ``resultset_format`` may
    reference ``${data}`` plus ``${rows}``."""
    import re as _re

    global _TPL_RE
    if _TPL_RE is None:
        _TPL_RE = _re.compile(r"\$\{(\w+)(?::(\w+))?\}")
    where = {n: i for i, n in enumerate(df.columns)}
    refs = list(dict.fromkeys((m.group(1), m.group(2) or "Raw")
                              for m in _TPL_RE.finditer(row_format)))
    for name, _ in refs:
        if name not in where:
            raise ValueError(f"Template: unknown column {name}")
    fields, types = df.schema.fields, column_ch_types(df)
    rows = _positional(df).select(*[
        cell(F.col(f"c{where[n]}"), fields[where[n]].dataType, _rule(esc),
             types[where[n]]) for n, esc in refs]).collect()

    def row_text(r):
        text = dict(zip(refs, r))
        return _TPL_RE.sub(
            lambda m: text[(m.group(1), m.group(2) or "Raw")], row_format)

    data = row_between_delimiter.join(row_text(r) for r in rows)
    if resultset_format is None:
        return data
    return (resultset_format.replace("${data}", data)
            .replace("${rows}", str(len(rows))))


def _setting(settings: dict, name: str, default: str) -> str:
    v = str(settings.get(name, default))
    return v.replace("\\t", "\t").replace("\\n", "\n").replace("\\r", "\r")


def _custom_separated(with_names: bool):
    def doc(df, settings):
        def s(name, default):
            return _setting(settings, "format_custom_" + name, default)
        return to_custom_separated(
            df, escaping=s("escaping_rule", "Escaped"),
            field_delim=s("field_delimiter", "\t"),
            row_before=s("row_before_delimiter", ""),
            row_after=s("row_after_delimiter", "\n"),
            row_between=s("row_between_delimiter", ""),
            result_before=s("result_before_delimiter", ""),
            result_after=s("result_after_delimiter", ""),
            with_names=with_names)
    return doc


def _template(df, settings) -> str:
    row_fmt = str(settings.get("format_template_row_format",
                               settings.get("format_template_row", "")))
    if not row_fmt:
        raise ValueError("FORMAT Template requires SET "
                         "format_template_row_format = '...'")
    rs = str(settings.get("format_template_resultset_format",
                          settings.get("format_template_resultset", "")))
    return to_template(df, row_fmt, row_between_delimiter=_setting(
        settings, "format_template_rows_between_delimiter", "\\n"),
        resultset_format=rs or None)


# FORMAT name → rule and layout: the one table the console FORMAT
# suffix, INTO OUTFILE, formatRow and system.formats read
TEXT_FORMATS: dict[str, TextFormat] = {
    **dict.fromkeys(("TabSeparated", "TSV"), _delimited("Escaped", "\t")),
    **dict.fromkeys(("TabSeparatedWithNames", "TSVWithNames"),
                    _delimited("Escaped", "\t", names=True)),
    **dict.fromkeys(("TabSeparatedWithNamesAndTypes",
                     "TSVWithNamesAndTypes"),
                    _delimited("Escaped", "\t", names=True, types=True)),
    "CSV": _delimited("CSV", ","),
    "CSVWithNames": _delimited("CSV", ",", names=True),
    "CSVWithNamesAndTypes": _delimited("CSV", ",", names=True, types=True),
    "TSKV": _keyed("Escaped", "", lambda n: _name_text(n, "Escaped")
                   .replace("=", "\\=") + "=", "\t", ""),
    **dict.fromkeys(("JSONEachRow", "JSONLines", "NDJSON"),
                    _json_object("JSON")),
    "JSONStringsEachRow": _json_object("JSONString"),
    "PrettyJSONEachRow": _keyed("JSON", "{\n",
                                lambda n: f"    {_name_text(n, 'JSON')}: ",
                                ",\n", "\n}"),
    "JSONCompactEachRow": _delimited("JSON", ",", "[", "]"),
    "JSONCompactEachRowWithNames": _delimited("JSON", ",", "[", "]",
                                              names=True),
    "JSONCompactEachRowWithNamesAndTypes": _delimited(
        "JSON", ",", "[", "]", names=True, types=True),
    "JSONCompactStringsEachRow": _delimited("JSONString", ",", "[", "]"),
    "Values": _delimited("Quoted", ",", "(", ")", row_sep=","),
    "JSON": TextFormat("JSON", doc=_json_doc("JSON", False)),
    "JSONCompact": TextFormat("JSON", doc=_json_doc("JSON", True)),
    "JSONStrings": TextFormat("JSONString",
                              doc=_json_doc("JSONString", False)),
    "JSONColumns": TextFormat("JSON", doc=_json_columns(False)),
    "JSONCompactColumns": TextFormat("JSON", doc=_json_columns(True)),
    "JSONObjectEachRow": TextFormat("JSON", doc=_json_object_each_row),
    "JSONEachRowWithProgress": TextFormat(
        "JSON", doc=to_json_each_row_with_progress),
    "SQLInsert": TextFormat("Quoted", doc=_sql_insert),
    "XML": TextFormat("XML", doc=to_xml),
    "Markdown": TextFormat("Text", doc=to_markdown),
    "Vertical": TextFormat("Text", doc=to_vertical),
    # style families: Pretty* = heavy-ruled header box, PrettyCompact* =
    # names-in-border grid, PrettySpace* = no grid; MonoBlock/NoEscapes
    # variants share the base layout (no ANSI escapes are emitted)
    **{f"{base}{variant}": _pretty(style)
       for base, style in (("Pretty", "full"), ("PrettyCompact", "compact"),
                           ("PrettySpace", "space"))
       for variant in ("", "MonoBlock", "NoEscapes")},
    "CustomSeparated": TextFormat(None, doc=_custom_separated(False)),
    "CustomSeparatedWithNames": TextFormat(None,
                                           doc=_custom_separated(True)),
    "Template": TextFormat(None, doc=_template),
}


def render_text(df: DataFrame, fmt: str, settings: dict | None = None) -> str:
    """The text of ``df`` in text FORMAT ``fmt``, without a final
    newline: what the console shows line by line and INTO OUTFILE
    writes. Every row is rendered (the Pretty family shows its first
    20)."""
    spec = TEXT_FORMATS[fmt]
    if spec.doc is not None:
        text = spec.doc(df, settings or {})
        return text[:-1] if text.endswith("\n") else text
    types = column_ch_types(df)
    head = spec.head(df.columns, types) if spec.head else []
    lines = [r[0] for r in _line_frame(df, spec, types).collect()]
    return spec.sep.join(head + lines)


_ROW_FORMATS = {name.lower(): spec for name, spec in TEXT_FORMATS.items()
                if spec.line is not None}


def format_row(fmt: str, cols: list[Column], dts: list, types: list,
               names: list[str], newline: bool) -> Column:
    """``formatRow(fmt, …)``: one row of a row-oriented text FORMAT,
    with the cells INTO OUTFILE and the console write."""
    spec = _ROW_FORMATS.get(fmt.lower())
    if spec is None:
        raise ValueError(f"formatRow: unsupported format {fmt!r}")
    line = spec.line([cell(c, dt, spec.rule, t)
                      for c, dt, t in zip(cols, dts, types)], names)
    return F.concat(line, F.lit("\n")) if newline else line


def to_tab_separated(df: DataFrame) -> str:
    """TabSeparated text (CH's default client format)."""
    return render_text(df, "TabSeparated")


def to_csv_text(df: DataFrame, header: bool = False) -> str:
    """``FORMAT CSV[WithNames]`` text."""
    return render_text(df, "CSVWithNames" if header else "CSV")


def to_json_each_row(df: DataFrame) -> str:
    """``JSONEachRow`` text: one compact JSON object per line."""
    return render_text(df, "JSONEachRow")


def to_values(df: DataFrame) -> str:
    """``Values`` text: ``(1,'a'),(2,'b')``."""
    return render_text(df, "Values")


def to_tskv(df: DataFrame) -> str:
    """``TSKV`` text: ``name=value`` pairs, tab-separated."""
    return render_text(df, "TSKV")


def to_json(df: DataFrame) -> str:
    """``JSON`` document: {meta, data: [objects], rows}."""
    return render_text(df, "JSON")


def to_json_compact(df: DataFrame) -> str:
    """``JSONCompact``: like JSON but data rows are arrays."""
    return render_text(df, "JSONCompact")


# the byte codecs: OUTFILE-only writers, and read_format's decoders
def _to_capnproto(df: DataFrame) -> bytes:
    from .capnproto import to_capnproto
    return to_capnproto(df)


def _from_capnproto(spark: SparkSession, data: bytes,
                    structure: str) -> DataFrame:
    from .capnproto import from_capnproto
    return from_capnproto(spark, data, structure)


BYTE_CODECS = {"RowBinary": to_row_binary, "MsgPackEachRow": to_msgpack,
               "CapnProto": _to_capnproto}
BYTE_DECODERS = {"RowBinary": from_row_binary, "MsgPackEachRow": from_msgpack,
                 "CapnProto": _from_capnproto}


def format_table() -> list[tuple[str, int, int]]:
    """``system.formats``: (name, is_input, is_output) of every format
    with a reader or a writer."""
    inputs = set(FORMATS) - {"Null"}
    outputs = (set(TEXT_FORMATS) | set(BYTE_CODECS)
               | {n for n, (kind, _) in FORMATS.items()
                  if kind in ("parquet", "orc", "avro", "noop")
                  or kind.startswith("arrow-ipc")})
    return sorted((n, int(n in inputs), int(n in outputs))
                  for n in inputs | outputs)
