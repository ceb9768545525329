"""Format registry — the FORMAT surface of the reference.

Reference: ``src/Formats/registerFormats.cpp:10-77`` declares the format
set (all registrations commented out there; only Native has live code —
``NativeWriter.cpp``/``NativeReader.cpp``). Inputs: ``FORMATS`` maps a
name to Spark's reader (the ClickHouse text formats as options on its
CSV/JSON readers, or a dedicated lowering). Outputs: ``TEXT_FORMATS``
maps each text format to its cells' escaping rule and its layout, the
one table the console FORMAT suffix, INTO OUTFILE and formatRow read;
the byte codecs and Spark's columnar writers are OUTFILE-only.
``INTO OUTFILE ... COMPRESSION`` (``ParserQueryWithOutput.cpp:83-99``)
maps to the writers' ``compression`` option.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.typemap import CH_NUMERIC, column_ch_types


def _parse_ddl_schema(spark: SparkSession, schema: str):
    """DDL schema string → StructType (via a zero-row reader probe,
    public API only)."""
    from pyspark.sql.types import StructType
    return StructType.fromDDL(schema)


# name → (spark format, read options, write options)
FORMATS: dict[str, tuple[str, dict[str, Any], dict[str, Any]]] = {
    "Parquet": ("parquet", {}, {}),
    "ORC": ("orc", {}, {}),
    "Avro": ("avro", {}, {}),
    # Arrow = IPC random-access file, ArrowStream = IPC stream
    # (registerFormats.cpp:31-34 declares both; real IPC here, shared
    # with the Native analogue below)
    "Arrow": ("arrow-ipc-file", {}, {}),
    "ArrowStream": ("arrow-ipc-stream", {}, {}),
    # CH CSV/TSV both render NULL as \N (formats docs) — make the
    # distributed Spark readers/writers speak the same convention
    # reads infer column types when no explicit structure is given,
    # like CH's schema inference for file() (schema arg overrides)
    "CSV": ("csv", {"header": "false", "nullValue": "\\N",
                    "inferSchema": "true", "escape": '"'},
            {"header": "false", "nullValue": "\\N"}),
    "CSVWithNames": ("csv", {"header": "true", "nullValue": "\\N",
                             "inferSchema": "true", "escape": '"'},
                     {"header": "true", "nullValue": "\\N"}),
    "TabSeparated": ("csv", {"sep": "\t", "header": "false",
                             "nullValue": "\\N", "inferSchema": "true"},
                     {"sep": "\t", "header": "false",
                      "nullValue": "\\N"}),
    "TSV": ("csv", {"sep": "\t", "header": "false", "nullValue": "\\N",
                    "inferSchema": "true"},
            {"sep": "\t", "header": "false", "nullValue": "\\N"}),
    "TabSeparatedWithNames": ("csv", {"sep": "\t", "header": "true",
                                      "nullValue": "\\N",
                                      "inferSchema": "true"},
                              {"sep": "\t", "header": "true",
                               "nullValue": "\\N"}),
    # common CH short aliases
    "TSVWithNames": ("csv", {"sep": "\t", "header": "true",
                             "nullValue": "\\N", "inferSchema": "true"},
                     {"sep": "\t", "header": "true",
                      "nullValue": "\\N"}),
    # Native ≙ Arrow IPC stream (the reference's only live format code;
    # see to_native/from_native below)
    "Native": ("arrow-ipc-stream", {}, {}),
    "JSONEachRow": ("json", {}, {}),
    # rows are top-level ARRAYS, not objects — Spark's json reader
    # cannot map them to named columns, so a dedicated lowering parses
    # each line as array<string> and casts positionally (distributed)
    "JSONCompactEachRow": ("json-compact-rows", {}, {}),
    # regex-per-line input (reference registerInputFormatRegexp;
    # settings format_regexp / format_regexp_skip_unmatched drive it)
    "Regexp": ("regexp-rows", {}, {}),
    "LineAsString": ("text", {}, {}),
    "JSONAsString": ("json-as-string", {}, {}),
    # names row + TYPES row (row 2 is the CH type list, stripped by the
    # reader lowering)
    "TabSeparatedWithNamesAndTypes": ("tsv-names-types",
                                      {"sep": "\t"}, {}),
    "TSVWithNamesAndTypes": ("tsv-names-types", {"sep": "\t"}, {}),
    "CSVWithNamesAndTypes": ("tsv-names-types", {"sep": ","}, {}),
    # every value carried as a JSON string, cast to the declared type
    "JSONStringsEachRow": ("json-strings-rows", {}, {}),
    "JSONCompactStringsEachRow": ("json-compact-rows", {}, {}),
    # key=value pairs separated by tabs
    "TSKV": ("tskv-rows", {}, {}),
    "RawBLOB": ("binaryFile", {}, {}),
    "Null": ("noop", {}, {}),
}

_COMPRESSION = {"gzip": "gzip", "gz": "gzip", "zstd": "zstd", "lz4": "lz4",
                "snappy": "snappy", "none": "none"}


def read_format(spark: SparkSession, fmt: str, path: str,
                schema: str | None = None, **extra) -> DataFrame:
    """``INSERT ... FROM INFILE 'path' FORMAT fmt`` read path."""
    name, ropts, _ = FORMATS[fmt]
    if name == "json-as-string":
        return read_json_as_string(spark, path)
    if name == "regexp-rows":
        # Regexp format: each line matched against format_regexp; group
        # i binds column i. Distributed text scan + JVM regexp_extract;
        # unmatched lines raise unless format_regexp_skip_unmatched=1
        # (CH raises "Line ... doesn't match the regexp").
        regex = extra.get("regex") or ""
        if not regex:
            raise ValueError(
                "FORMAT Regexp requires SET format_regexp = '...'")
        if not schema:
            raise ValueError("FORMAT Regexp requires a schema")
        skip = bool(extra.get("skip_unmatched", False))
        st = _parse_ddl_schema(spark, schema)
        txt = spark.read.text(path).where(F.length("value") > 0)
        matched = F.col("value").rlike(regex)
        if skip:
            txt = txt.where(matched)
        else:
            txt = txt.select(F.when(matched, F.col("value")).otherwise(
                F.raise_error(F.concat(
                    F.lit("Line \""), F.col("value"),
                    F.lit("\" doesn't match the regexp "
                          "(format_regexp_skip_unmatched=0)")))
            ).alias("value"))
        return txt.select(*[
            F.regexp_extract("value", regex, i + 1).cast(f.dataType)
             .alias(f.name)
            for i, f in enumerate(st.fields)])
    if name == "tsv-names-types":
        # WithNamesAndTypes: line 1 = names, line 2 = CH types. The
        # names row maps csv columns; the types row is identified by
        # its literal content (read driver-side from the file head —
        # both header lines are by definition at the top) and filtered
        # out. A data row equal to the type row in EVERY column cannot
        # be distinguished — documented edge, absurd in practice.
        sep = ropts.get("sep", "\t")
        with open(path, "r", encoding="utf-8") as fh:
            names_line = fh.readline().rstrip("\n").rstrip("\r")
            types_line = fh.readline().rstrip("\n").rstrip("\r")
        names = names_line.split(sep)
        types_vals = types_line.split(sep)
        df = (spark.read.format("csv")
              .options(sep=sep, header="true", nullValue="\\N",
                       inferSchema="false")
              .load(path))
        cond = None
        for n, tv in zip(names, types_vals):
            c = (F.col(f"`{n}`") == tv)
            cond = c if cond is None else (cond & c)
        if cond is not None:
            df = df.where(~F.coalesce(cond, F.lit(False)))
        if schema:
            st = _parse_ddl_schema(spark, schema)
            by_name = {f.name: f.dataType for f in st.fields}
            df = df.select(*[
                F.col(f"`{n}`").cast(by_name[n]).alias(n)
                if n in by_name else F.col(f"`{n}`") for n in names])
        return df
    if name == "json-strings-rows":
        # JSONStringsEachRow: {"a": "1"} — values arrive as strings;
        # parse each line as map<string,string> and cast to declared
        if not schema:
            raise ValueError("JSONStringsEachRow requires a schema")
        st = _parse_ddl_schema(spark, schema)
        txt = spark.read.text(path).where(F.length(F.trim("value")) > 0)
        m = F.from_json(F.col("value"), "map<string,string>")
        return txt.select(*[
            F.element_at(m, f.name).cast(f.dataType).alias(f.name)
            for f in st.fields])
    if name == "tskv-rows":
        # TSKV input: tab-separated key=value pairs per line
        if not schema:
            raise ValueError("TSKV requires a schema")
        st = _parse_ddl_schema(spark, schema)
        txt = spark.read.text(path).where(F.length(F.trim("value")) > 0)
        m = F.str_to_map(F.col("value"), F.lit("\t"), F.lit("="))
        return txt.select(*[
            F.when(F.element_at(m, f.name) == "\\N", None)
             .otherwise(F.element_at(m, f.name))
             .cast(f.dataType).alias(f.name)
            for f in st.fields])
    if name == "json-compact-rows":
        # JSONCompactEachRow: one top-level JSON array per line. Parse
        # as array<string> (scalars and nested composites coerce to
        # their JSON text) and cast each position to the declared type —
        # stays a distributed text scan + JVM from_json, no driver loop.
        if not schema:
            raise ValueError("JSONCompactEachRow requires a schema")
        st = _parse_ddl_schema(spark, schema)
        txt = spark.read.text(path).where(F.length(F.trim("value")) > 0)
        arr = F.from_json(F.col("value"), "array<string>")
        return txt.select(*[
            F.element_at(arr, i + 1).cast(f.dataType).alias(f.name)
            for i, f in enumerate(st.fields)])
    if name.startswith("arrow-ipc"):
        import pyarrow as pa

        with open(path, "rb") as fh:
            if name == "arrow-ipc-file":
                table = pa.ipc.open_file(fh).read_all()
            else:
                table = pa.ipc.open_stream(fh).read_all()
        return spark.createDataFrame(table)
    reader = spark.read.format(name).options(**{**ropts, **extra})
    if name == "json" and schema:
        # CH quotes 64-bit integers in JSON output and writes predicates
        # as 1/0: read numbers and booleans as their text, then cast
        st = _parse_ddl_schema(spark, schema)
        loose = [isinstance(f.dataType, (T.NumericType, T.BooleanType))
                 for f in st.fields]
        df = reader.schema(T.StructType([
            T.StructField(f.name, T.StringType()) if lo else f
            for f, lo in zip(st.fields, loose)])).load(path)
        return df.select(*[
            F.col(f"`{f.name}`").try_cast(f.dataType).alias(f.name) if lo
            else F.col(f"`{f.name}`") for f, lo in zip(st.fields, loose)])
    if schema:
        reader = reader.schema(schema)
    return reader.load(path)

def write_format(df: DataFrame, fmt: str, path: str,
                 compression: str | None = None,
                 settings: dict | None = None) -> None:
    """``SELECT ... INTO OUTFILE 'path' [COMPRESSION 'm'] FORMAT fmt``
    and ``INSERT INTO FUNCTION file(path, fmt)``: ONE file at ``path``.
    A text format writes exactly the text the console shows (plus the
    final newline); the byte codecs and Spark's columnar writers are
    OUTFILE-only. With COMPRESSION, the CSV/TSV/JSONEachRow family goes
    through Spark's own csv/json writers, which compress."""
    if fmt in TEXT_FORMATS and not compression:
        _write_text(df, fmt, path, settings or {})
        return
    if fmt in BYTE_CODECS:
        with open(path, "wb") as fh:
            fh.write(BYTE_CODECS[fmt](df))
        return
    if fmt not in FORMATS:
        raise ValueError(f"FORMAT {fmt} cannot be written"
                         + (f" with COMPRESSION '{compression}'"
                            if compression else ""))
    name, _, wopts = FORMATS[fmt]
    if name == "noop":  # FORMAT Null — execute, discard rows
        df.write.format("noop").mode("overwrite").save()
        return
    if name.startswith("arrow-ipc"):
        # INTO OUTFILE is a single client-side file in CH too
        # (ClientBase writes the whole result locally), so a driver-side
        # df.toArrow() matches semantics; for distributed Arrow output
        # at scale use FORMAT Parquet instead. IPC body compression is
        # buffer-level (lz4/zstd only, per the Arrow spec).
        import pyarrow as pa

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
    opts = dict(wopts)
    if compression:
        opts["compression"] = _COMPRESSION[compression.lower()]
    _write_single(df, name, opts, path)


def _write_text(df: DataFrame, fmt: str, path: str, settings: dict) -> None:
    """A text FORMAT into one file. Row formats write their line column
    from the executors (header lines first); document formats write the
    text ``render_text`` builds — the same text either way."""
    spec = TEXT_FORMATS[fmt]
    if spec.doc is not None or spec.sep != "\n":
        text = render_text(df, fmt, settings)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text + "\n" if text else "")
        return
    types = column_ch_types(df)
    head = spec.head(df.columns, types) if spec.head else []
    _write_single(_line_frame(df, spec, types), "text", {}, path, head)


def _write_single(df: DataFrame, name: str, opts: dict, path: str,
                  head: list[str] | None = None) -> None:
    """CH INTO OUTFILE produces ONE file at the named path (ClientBase
    writes the result client-side); Spark's writer emits a directory of
    part files, so write one part to a sibling dir and move it into
    place, after the ``head`` lines when there are any."""
    import glob
    import shutil
    tmp = path + ".spark-out"
    df.coalesce(1).write.format(name).options(**opts).mode(
        "overwrite").save(tmp)
    parts = [p for p in glob.glob(os.path.join(tmp, "part-*"))
             if not p.endswith(".crc")]
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    if head:
        with open(path, "w", encoding="utf-8") as out:
            out.write("".join(h + "\n" for h in head))
            for p in parts:
                with open(p, encoding="utf-8") as part:
                    shutil.copyfileobj(part, out)
    elif len(parts) == 1:
        shutil.move(parts[0], path)
    elif name == "text":
        open(path, "w").close()
    else:   # zero parts (empty writer quirk): keep the directory form
        shutil.move(tmp, path)
    shutil.rmtree(tmp, ignore_errors=True)


def to_native(df: DataFrame) -> bytes:
    """CH ``Native`` format analogue: columnar blocks over the wire.

    The reference's only live format code is Native
    (``src/Formats/NativeWriter.cpp`` / ``NativeReader.cpp``) — columns
    serialized block-wise. Arrow IPC *is* that design in the open
    ecosystem, and Spark speaks it natively (``df.toArrow()``), so the
    Native surface here is an Arrow IPC stream."""
    import io

    import pyarrow as pa

    table = df.toArrow()
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def from_native(spark: SparkSession, data: bytes) -> DataFrame:
    """Read an Arrow IPC stream (Native analogue) back to a DataFrame."""
    import io

    import pyarrow as pa

    table = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    return spark.createDataFrame(table)


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


# Spark simpleString → struct pack letter (little-endian, CH wire widths)
_RB_PACK = {"bigint": "q", "int": "i", "smallint": "h", "tinyint": "b",
            "double": "d", "float": "f", "boolean": "B"}


def to_row_binary(df: DataFrame) -> bytes:
    """CH ``RowBinary``: rows of fixed-width little-endian scalars;
    String as ULEB128 length + UTF-8 bytes; Date as uint16 days since
    epoch; DateTime as uint32 unix seconds (RowBinary wire layout per
    the CH format docs; the reference registers the name in
    ``registerFormats.cpp``)."""
    import struct
    from datetime import date, datetime, timezone

    buf = bytearray()
    for row in df.collect():
        for field, v in zip(df.schema.fields, row):
            t = field.dataType.simpleString()
            if t in _RB_PACK:
                buf += struct.pack("<" + _RB_PACK[t],
                                   int(v) if t == "boolean" else v)
            elif t == "string":
                raw = v.encode("utf-8")
                buf += _uleb128(len(raw)) + raw
            elif t == "date":
                buf += struct.pack("<H", (v - date(1970, 1, 1)).days)
            elif t.startswith("timestamp"):
                ts = v.replace(tzinfo=timezone.utc) if v.tzinfo is None else v
                buf += struct.pack("<I", int(ts.timestamp()))
            else:
                raise ValueError(f"RowBinary: unsupported type {t}")
    return bytes(buf)


def from_row_binary(spark: SparkSession, data: bytes,
                    schema: str) -> DataFrame:
    """Decode RowBinary bytes back into a DataFrame given a DDL schema."""
    import struct
    from datetime import date, datetime, timedelta, timezone

    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    rows, pos = [], 0
    while pos < len(data):
        row = []
        for field in st.fields:
            t = field.dataType.simpleString()
            if t in _RB_PACK:
                fmtc = _RB_PACK[t]
                size = struct.calcsize("<" + fmtc)
                (v,) = struct.unpack_from("<" + fmtc, data, pos)
                pos += size
                row.append(bool(v) if t == "boolean" else v)
            elif t == "string":
                ln, pos = _read_uleb128(data, pos)
                row.append(data[pos:pos + ln].decode("utf-8"))
                pos += ln
            elif t == "date":
                (days,) = struct.unpack_from("<H", data, pos)
                pos += 2
                row.append(date(1970, 1, 1) + timedelta(days=days))
            elif t.startswith("timestamp"):
                (secs,) = struct.unpack_from("<I", data, pos)
                pos += 4
                row.append(datetime.fromtimestamp(secs, tz=timezone.utc)
                           .replace(tzinfo=None))
            else:
                raise ValueError(f"RowBinary: unsupported type {t}")
        rows.append(tuple(row))
    return spark.createDataFrame(rows, st)


# --- MsgPackEachRow ---------------------------------------------------------
# MessagePack wire encoding per the public spec (msgpack.org); the
# reference declares the format (registerFormats.cpp:41-42, registration
# commented out at :114-115). Like CH MsgPackEachRow, each row is its
# fields' values serialized back-to-back (no per-row array header) —
# the schema drives decoding. Date ≙ uint days since epoch, DateTime ≙
# uint unix seconds, matching the RowBinary choices above.

def _mp_int(v: int) -> bytes:
    import struct

    if 0 <= v <= 0x7F:
        return bytes([v])                       # positive fixint
    if -32 <= v < 0:
        return struct.pack("b", v)              # negative fixint
    if v >= 0:
        for fmt, code, hi in (("B", 0xCC, 1 << 8), ("H", 0xCD, 1 << 16),
                              ("I", 0xCE, 1 << 32), ("Q", 0xCF, 1 << 64)):
            if v < hi:
                return bytes([code]) + struct.pack(">" + fmt, v)
    for fmt, code, lo in (("b", 0xD0, -(1 << 7)), ("h", 0xD1, -(1 << 15)),
                          ("i", 0xD2, -(1 << 31)), ("q", 0xD3, -(1 << 63))):
        if v >= lo:
            return bytes([code]) + struct.pack(">" + fmt, v)
    raise ValueError(f"int out of MessagePack range: {v}")


def _mp_value(v, t: str) -> bytes:
    import struct
    from datetime import date, timezone

    if v is None:
        return b"\xc0"
    if t == "boolean":
        return b"\xc3" if v else b"\xc2"
    if t in ("tinyint", "smallint", "int", "bigint"):
        return _mp_int(int(v))
    if t == "float":
        return b"\xca" + struct.pack(">f", v)
    if t == "double":
        return b"\xcb" + struct.pack(">d", v)
    if t == "string":
        raw = v.encode("utf-8")
        n = len(raw)
        if n <= 31:
            return bytes([0xA0 | n]) + raw
        if n < 1 << 8:
            return b"\xd9" + bytes([n]) + raw
        if n < 1 << 16:
            return b"\xda" + struct.pack(">H", n) + raw
        return b"\xdb" + struct.pack(">I", n) + raw
    if t == "binary":
        n = len(v)
        if n < 1 << 8:
            return b"\xc4" + bytes([n]) + bytes(v)
        if n < 1 << 16:
            return b"\xc5" + struct.pack(">H", n) + bytes(v)
        return b"\xc6" + struct.pack(">I", n) + bytes(v)
    if t == "date":
        return _mp_int((v - date(1970, 1, 1)).days)
    if t.startswith("timestamp"):
        ts = v.replace(tzinfo=timezone.utc) if v.tzinfo is None else v
        return _mp_int(int(ts.timestamp()))
    if t.startswith("array<"):
        elem = t[6:-1]
        n = len(v)
        if n <= 15:
            head = bytes([0x90 | n])
        elif n < 1 << 16:
            head = b"\xdc" + struct.pack(">H", n)
        else:
            head = b"\xdd" + struct.pack(">I", n)
        return head + b"".join(_mp_value(e, elem) for e in v)
    raise ValueError(f"MsgPack: unsupported type {t}")


def to_msgpack(df: DataFrame) -> bytes:
    """CH ``MsgPackEachRow`` output: rows of MessagePack values."""
    buf = bytearray()
    for row in df.collect():
        for field, v in zip(df.schema.fields, row):
            buf += _mp_value(v, field.dataType.simpleString())
    return bytes(buf)


def _mp_decode(data: bytes, pos: int):
    """Decode one MessagePack value → (python value, new pos)."""
    import struct

    b = data[pos]
    pos += 1
    if b <= 0x7F:
        return b, pos
    if b >= 0xE0:
        return b - 256, pos
    if 0xA0 <= b <= 0xBF:
        n = b & 0x1F
        return data[pos:pos + n].decode("utf-8"), pos + n
    if 0x90 <= b <= 0x9F:
        out = []
        for _ in range(b & 0x0F):
            v, pos = _mp_decode(data, pos)
            out.append(v)
        return out, pos
    simple = {0xC0: None, 0xC2: False, 0xC3: True}
    if b in simple:
        return simple[b], pos
    fixed = {0xCA: (">f", 4), 0xCB: (">d", 8), 0xCC: (">B", 1),
             0xCD: (">H", 2), 0xCE: (">I", 4), 0xCF: (">Q", 8),
             0xD0: (">b", 1), 0xD1: (">h", 2), 0xD2: (">i", 4),
             0xD3: (">q", 8)}
    if b in fixed:
        fmt, size = fixed[b]
        (v,) = struct.unpack_from(fmt, data, pos)
        return v, pos + size
    if b in (0xD9, 0xDA, 0xDB, 0xC4, 0xC5, 0xC6):
        size = {0xD9: 1, 0xC4: 1, 0xDA: 2, 0xC5: 2, 0xDB: 4, 0xC6: 4}[b]
        n = int.from_bytes(data[pos:pos + size], "big")
        pos += size
        raw = data[pos:pos + n]
        pos += n
        return (raw.decode("utf-8") if b in (0xD9, 0xDA, 0xDB)
                else bytes(raw)), pos
    if b in (0xDC, 0xDD):
        size = 2 if b == 0xDC else 4
        n = int.from_bytes(data[pos:pos + size], "big")
        pos += size
        out = []
        for _ in range(n):
            v, pos = _mp_decode(data, pos)
            out.append(v)
        return out, pos
    raise ValueError(f"MsgPack: unsupported marker 0x{b:02x}")


def from_msgpack(spark: SparkSession, data: bytes, schema: str) -> DataFrame:
    """Decode MsgPackEachRow bytes back into a DataFrame given a DDL
    schema (the value stream is self-describing; the schema maps uint
    days/seconds back to Date/DateTime and fixes column names)."""
    from datetime import date, datetime, timedelta, timezone

    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    rows, pos = [], 0
    while pos < len(data):
        row = []
        for field in st.fields:
            t = field.dataType.simpleString()
            v, pos = _mp_decode(data, pos)
            if v is not None:
                if t == "date":
                    v = date(1970, 1, 1) + timedelta(days=v)
                elif t.startswith("timestamp"):
                    v = (datetime.fromtimestamp(v, tz=timezone.utc)
                         .replace(tzinfo=None))
                elif t == "boolean":
                    v = bool(v)
                elif t in ("float", "double"):
                    v = float(v)
            row.append(v)
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
    if isinstance(dt, T.BooleanType):
        yes, no = ("1", "0") if ch == "UInt8" else ("true", "false")
        return F.when(c, F.lit(yes)).otherwise(F.lit(no))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return _STRING_TEXT[rule](F.date_format(c, "yyyy-MM-dd HH:mm:ss"))
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
    if ch == "UInt64":
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


# the byte codecs: OUTFILE-only writers, and readers for INSERT … FORMAT
def _to_capnproto(df: DataFrame) -> bytes:
    from .capnproto import to_capnproto
    return to_capnproto(df)


def _from_capnproto(spark: SparkSession, data: bytes,
                    schema: str) -> DataFrame:
    from .capnproto import from_capnproto
    return from_capnproto(spark, data, schema)


BYTE_CODECS = {"RowBinary": to_row_binary, "MsgPackEachRow": to_msgpack,
               "CapnProto": _to_capnproto}
BYTE_DECODERS = {"RowBinary": from_row_binary, "MsgPackEachRow": from_msgpack,
                 "CapnProto": _from_capnproto}


def format_table() -> list[tuple[str, int, int]]:
    """``system.formats``: (name, is_input, is_output) of every format
    with a reader or a writer."""
    inputs = (set(FORMATS) - {"Null"}) | set(BYTE_DECODERS)
    outputs = (set(TEXT_FORMATS) | set(BYTE_CODECS)
               | {n for n, (kind, _, _) in FORMATS.items()
                  if kind in ("parquet", "orc", "avro", "noop")
                  or kind.startswith("arrow-ipc")})
    return sorted((n, int(n in inputs), int(n in outputs))
                  for n in inputs | outputs)


def tsv_unescape_columns(df: DataFrame) -> DataFrame:
    """Decode CH TabSeparated INPUT escapes on string columns
    (\\t, \\n, \\r, \\', \\\\) — Spark's CSV reader leaves them raw.
    Backslash-backslash goes through a sentinel so '\\\\t' decodes to
    backslash+t, not tab. Pure JVM replace chain."""
    from pyspark.sql.types import StringType
    sent = "\x00"
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, StringType):
            c = F.replace(c, F.lit("\\\\"), F.lit(sent))
            for esc, real in (("\\t", "\t"), ("\\n", "\n"),
                              ("\\r", "\r"), ("\\'", "'")):
                c = F.replace(c, F.lit(esc), F.lit(real))
            c = F.replace(c, F.lit(sent), F.lit("\\"))
        cols.append(c.alias(f.name))
    return df.select(*cols)

def read_regexp(spark: SparkSession, path: str, regexp: str,
                schema: str, skip_unmatched: bool = False) -> DataFrame:
    """``Regexp`` input format: each line parsed by a regexp whose
    capture groups map positionally onto the schema columns. Stays
    JVM-side (spark.read.text + regexp_extract) — scales to any input
    size, unlike a driver-side line loop."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    lines = spark.read.text(path)
    matched = lines.where(F.col("value").rlike(regexp))
    if not skip_unmatched:
        # CH throws on unmatched rows unless
        # format_regexp_skip_unmatched=1; mirror with a cheap count check
        total = lines.count()
        ok = matched.count()
        if ok != total:
            raise ValueError(
                f"Regexp: {total - ok} rows did not match (set "
                f"skip_unmatched=True to drop them)")
    cols = [F.regexp_extract("value", regexp, i + 1)
            .cast(f.dataType).alias(f.name)
            for i, f in enumerate(st.fields)]
    return matched.select(*cols)

def read_json_as_string(spark: SparkSession, path: str) -> DataFrame:
    """``JSONAsString`` input: each top-level JSON object becomes ONE row
    with a single ``json`` String column (raw text, not parsed) —
    multi-line objects are re-assembled by brace balance outside string
    literals."""
    lines = spark.read.format("text").load(path)

    def reassemble(part):
        buf, depth, in_str, esc = [], 0, False, False
        for r in part:
            line = r.value
            buf.append(line)
            for ch in line:
                if esc:
                    esc = False
                elif ch == "\\":
                    esc = True
                elif ch == '"':
                    in_str = not in_str
                elif not in_str and ch == "{":
                    depth += 1
                elif not in_str and ch == "}":
                    depth -= 1
                    if depth == 0:
                        doc = "\n".join(buf).strip()
                        if doc:
                            yield (doc,)
                        buf = []
    # per-partition reassembly: objects must not span files/partitions
    # (same constraint CH's parallel parsing has for this format)
    return lines.rdd.mapPartitions(reassemble).toDF(["json"])

