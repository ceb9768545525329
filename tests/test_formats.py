"""Format registry round-trips (SURVEY §2.2 FORMAT surface)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clickhouse_from_scratch_spark.sources import FORMATS, read_format, write_format
from clickhouse_from_scratch_spark.sources.formats import to_pretty, to_tab_separated


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)],
        "id long, s string, v double")


ROUNDTRIP = ["Parquet", "ORC", "CSVWithNames", "TabSeparatedWithNames",
             "JSONEachRow"]


@pytest.mark.parametrize("fmt", ROUNDTRIP)
def test_roundtrip(spark, sample, tmp_path, fmt):
    dest = str(tmp_path / fmt)
    write_format(sample, fmt, dest)
    schema = "id long, s string, v double"
    back = read_format(spark, fmt, dest, schema=schema)
    got = sorted((r.id, r.s, r.v) for r in back.collect())
    assert got == [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)]


def test_avro_roundtrip_or_skip(spark, sample, tmp_path):
    # spark-avro is a separate artifact; gate on availability
    dest = str(tmp_path / "avro")
    try:
        write_format(sample, "Avro", dest)
    except Exception as e:
        pytest.skip(f"avro jar not on classpath: {str(e)[:60]}")
    back = read_format(spark, "Avro", dest)
    assert back.count() == 3


def test_compression_codecs(spark, sample, tmp_path):
    # INTO OUTFILE semantics: ONE file at the named path (CH ClientBase
    # writes the result client-side), compressed per the codec
    import gzip
    for codec in ("gzip", "none"):
        dest = str(tmp_path / f"c_{codec}.csv")
        write_format(sample, "CSVWithNames", dest, compression=codec)
        assert os.path.isfile(dest)
        opener = gzip.open if codec == "gzip" else open
        with opener(dest, "rt") as fh:
            assert len(fh.read().strip().splitlines()) == 4  # header + 3


def test_format_null_discards(sample):
    write_format(sample, "Null", "ignored_path")   # executes, writes nothing
    assert not os.path.exists("ignored_path")


def test_pretty_and_tsv_renderers(sample):
    pretty = to_pretty(sample.orderBy("id"))
    lines = pretty.split("\n")
    # CH PrettyCompact box grid: ┌─id─┬─…─┐ / │ … │ / └───┴───┘
    assert lines[0].startswith("┌─id─") and lines[0].endswith("─┐")
    assert lines[-1].startswith("└─") and lines[-1].endswith("─┘")
    assert "│ 1.5" in pretty or "1.5 │" in pretty
    assert "ᴺᵁᴸᴸ" in pretty              # sample has a NULL score cell
    tsv = to_tab_separated(sample.orderBy("id"))
    lines = tsv.split("\n")
    assert lines[0] == "1\ta\t1.5"
    # CH TabSeparated formats NULL as \N (formats docs: "NULL is
    # formatted as \N")
    assert lines[2] == "3\tc\t\\N"


def test_line_as_string(spark, tmp_path):
    p = str(tmp_path / "lines.txt")
    with open(p, "w") as f:
        f.write("first line\nsecond line\n")
    df = read_format(spark, "LineAsString", p)
    assert sorted(r[0] for r in df.collect()) == ["first line", "second line"]


def test_declared_format_inventory():
    # the §2.2 format set the engine claims (subset with live readers)
    for fmt in ["Parquet", "ORC", "Avro", "Arrow", "CSV", "CSVWithNames",
                "TabSeparated", "TSV", "TabSeparatedWithNames",
                "JSONEachRow", "LineAsString", "RawBLOB", "Null"]:
        assert fmt in FORMATS


def test_msgpack_each_row_roundtrip(spark):
    """MsgPackEachRow (registerFormats.cpp:41-42): spec-conformant
    MessagePack values back-to-back per row, schema-driven decode."""
    from datetime import date, datetime
    from clickhouse_from_scratch_spark.sources import (
        from_msgpack, to_msgpack)
    schema = ("i64 bigint, i8 tinyint, f64 double, f32 float, b boolean, "
              "s string, d date, ts timestamp, arr array<bigint>")
    rows = [
        (2**40, -5, 1.25, 0.5, True, "héllo", date(2024, 2, 29),
         datetime(2024, 1, 1, 12, 30, 0), [1, 2, 3]),
        # fixint boundaries, negative fixint, empty string/array
        (127, -32, -2.5, 2.0, False, "", date(1970, 1, 2),
         datetime(1970, 1, 1, 0, 0, 1), []),
        (-1, 0, 0.0, 0.0, False, "x" * 300, date(2000, 1, 1),
         datetime(2030, 6, 15, 23, 59, 59), list(range(20))),
        (None, None, None, None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    blob = to_msgpack(df)
    back = from_msgpack(spark, blob, schema)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect()), key=str) == \
        sorted(map(tuple, df.collect()), key=str)


def test_msgpack_wire_bytes():
    """Spot-check marker bytes against the public MessagePack spec."""
    from clickhouse_from_scratch_spark.sources.formats import _mp_value
    assert _mp_value(5, "bigint") == b"\x05"            # positive fixint
    assert _mp_value(-1, "bigint") == b"\xff"           # negative fixint
    assert _mp_value(200, "bigint") == b"\xcc\xc8"      # uint8
    assert _mp_value(-200, "bigint") == b"\xd1\xff\x38"  # int16
    assert _mp_value("ab", "string") == b"\xa2ab"       # fixstr
    assert _mp_value(None, "string") == b"\xc0"         # nil
    assert _mp_value(True, "boolean") == b"\xc3"
    assert _mp_value([1], "Array(Int64)") == b"\x91\x01"  # fixarray


def test_format_arrow_ipc_file_roundtrip(spark, tmp_path):
    """FORMAT Arrow writes a real Arrow IPC random-access file (no more
    parquet stand-in) — readable by plain pyarrow and by read_format."""
    import pyarrow as pa
    from clickhouse_from_scratch_spark.sources import (
        read_format, write_format)
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "id long, s string, v double")
    p = str(tmp_path / "out.arrow")
    write_format(df, "Arrow", p)
    table = pa.ipc.open_file(p).read_all()     # valid IPC file
    assert table.num_rows == 2 and table.column_names == ["id", "s", "v"]
    back = read_format(spark, "Arrow", p)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))


def test_format_arrow_stream_roundtrip(spark, tmp_path):
    import pyarrow as pa
    from clickhouse_from_scratch_spark.sources import (
        read_format, write_format)
    df = spark.createDataFrame([(i, f"s{i}") for i in range(100)],
                               "id long, s string")
    p = str(tmp_path / "out.arrows")
    write_format(df, "ArrowStream", p, compression="zstd")
    with open(p, "rb") as fh:
        table = pa.ipc.open_stream(fh).read_all()
    assert table.num_rows == 100
    back = read_format(spark, "ArrowStream", p)
    assert sorted(r.id for r in back.collect()) == list(range(100))
    with pytest.raises(ValueError, match="lz4/zstd"):
        write_format(df, "Arrow", p, compression="gzip")


def test_native_arrow_ipc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double")
    p = str(tmp_path / "t.native")
    write_format(df, "Native", p)
    assert os.path.getsize(p) > 0     # non-empty IPC stream
    back = read_format(spark, "Native", p)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_row_binary_roundtrip(spark):
    from datetime import date, datetime
    from clickhouse_from_scratch_spark.sources import (
        from_row_binary, to_row_binary)
    schema = ("i64 bigint, i32 int, i16 smallint, i8 tinyint, f64 double, "
              "f32 float, b boolean, s string, d date, ts timestamp")
    rows = [(2**40, -7, 300, -5, 1.25, 0.5, True, "héllo",
             date(2024, 2, 29), datetime(2024, 1, 1, 12, 30, 0)),
            (-1, 0, -1, 127, -2.5, 2.0, False, "",
             date(1970, 1, 2), datetime(1970, 1, 1, 0, 0, 1))]
    df = spark.createDataFrame(rows, schema)
    blob = to_row_binary(df)
    back = from_row_binary(spark, blob, schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, rows))


def test_row_binary_uleb128_long_string(spark):
    from clickhouse_from_scratch_spark.sources import (
        from_row_binary, to_row_binary)
    long_s = "x" * 300                 # length needs 2 ULEB128 bytes
    df = spark.createDataFrame([(long_s,)], "s string")
    back = from_row_binary(spark, to_row_binary(df), "s string")
    assert back.collect()[0].s == long_s


def test_values_renderer(spark):
    from clickhouse_from_scratch_spark.sources import to_values
    df = spark.createDataFrame(
        [(1, "it's", 1.5), (2, "a\\b", None)], "id long, s string, v double")
    assert to_values(df.orderBy("id")) == \
        "(1,'it\\'s',1.5),(2,'a\\\\b',NULL)"


def test_values_bool_array(spark):
    from clickhouse_from_scratch_spark.sources import to_values
    df = spark.createDataFrame([(True, [1, 2], ["x"])],
                               "b boolean, a array<int>, s array<string>")
    assert to_values(df) == "(true,[1,2],['x'])"


def test_vertical_renderer(spark):
    from clickhouse_from_scratch_spark.sources import to_vertical
    df = spark.createDataFrame([(1, "hello"), (2, None)],
                               "id long, name string")
    out = to_vertical(df.orderBy("id"))
    blocks = out.split("\n\n")
    assert blocks[0].split("\n") == [
        "Row 1:", "──────", "id:   1", "name: hello"]
    assert blocks[1].split("\n") == [
        "Row 2:", "──────", "id:   2", "name: ᴺᵁᴸᴸ"]


def test_tskv_renderer(spark):
    from clickhouse_from_scratch_spark.sources import to_tskv
    df = spark.createDataFrame([(1, "a\tb"), (2, None)],
                               "id long, s string")
    lines = to_tskv(df.orderBy("id")).split("\n")
    assert lines[0] == "id=1\ts=a\\tb"
    assert lines[1] == "id=2\ts=\\N"


def test_markdown_renderer(spark):
    from clickhouse_from_scratch_spark.sources import to_markdown
    df = spark.createDataFrame([(1, "a|b")], "id long, s string")
    lines = to_markdown(df).split("\n")
    assert lines[0] == "| id | s |"
    assert lines[1] == "|---:|:---|"      # numeric right, string left
    assert lines[2] == "| 1 | a\\|b |"


def test_xml_renderer(spark):
    from clickhouse_from_scratch_spark.sources import to_xml
    df = spark.createDataFrame([(1, "<x&y>")], "id long, s string")
    out = to_xml(df)
    assert out.startswith("<?xml version='1.0' encoding='UTF-8' ?>")
    assert "<name>id</name>" in out and "<type>Int64</type>" in out
    assert "<s>&lt;x&amp;y&gt;</s>" in out
    assert "<rows>1</rows>" in out


def test_json_document_forms(spark):
    import json
    from clickhouse_from_scratch_spark.sources import (
        to_json, to_json_compact, to_json_each_row)
    df = spark.createDataFrame([(2**40, "a", 1.5, None)],
                               "id long, s string, v double, z string")
    doc = json.loads(to_json(df))
    assert doc["meta"] == [{"name": "id", "type": "Int64"},
                           {"name": "s", "type": "String"},
                           {"name": "v", "type": "Float64"},
                           {"name": "z", "type": "String"}]
    # CH quotes 64-bit ints in JSON by default
    assert doc["data"] == [{"id": str(2**40), "s": "a", "v": 1.5, "z": None}]
    assert doc["rows"] == 1
    compact = json.loads(to_json_compact(df))
    assert compact["data"] == [[str(2**40), "a", 1.5, None]]
    line = json.loads(to_json_each_row(df))
    assert line["id"] == str(2**40) and line["v"] == 1.5


def test_template_renderer(spark):
    from clickhouse_from_scratch_spark.sources import to_template
    df = spark.createDataFrame([(1, "it's"), (2, "b")], "id long, s string")
    out = to_template(df.orderBy("id"), "${id:Escaped} -> ${s:Quoted}",
                      row_between_delimiter="; ")
    assert out == "1 -> 'it\\'s'; 2 -> 'b'"
    wrapped = to_template(df.orderBy("id"), "${id:Raw}",
                          resultset_format="rows=${rows} data=[${data}]",
                          row_between_delimiter=",")
    assert wrapped == "rows=2 data=[1,2]"


def test_regexp_input(spark, tmp_path):
    p = str(tmp_path / "log.txt")
    with open(p, "w") as f:
        f.write("id=1 name=alpha\nid=2 name=beta\nbogus line\n")
    regexp = {"format_regexp": r"^id=(\d+) name=(\w+)$"}
    df = read_format(spark, "Regexp", p, "id Int32, name String",
                     {**regexp, "format_regexp_skip_unmatched": 1})
    assert sorted(map(tuple, df.collect())) == [(1, "alpha"), (2, "beta")]
    with pytest.raises(Exception, match="doesn't match the regexp"):
        read_format(spark, "Regexp", p, "id Int32, name String",
                    regexp).collect()


def test_format_suffix_dispatch(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE t (id Int64, s String) ENGINE = Memory")
    sess.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    out = "\n".join(r.output for r in sess.execute(
        "SELECT * FROM t ORDER BY id FORMAT Vertical").collect())
    assert out.startswith("Row 1:")
    vals = "\n".join(r.output for r in sess.execute(
        "SELECT * FROM t ORDER BY id FORMAT Values").collect())
    assert vals == "(1,'a'),(2,'b')"
    dest = str(tmp_path / "out.json")
    sess.execute(f"SELECT * FROM t ORDER BY id INTO OUTFILE '{dest}' "
                 "FORMAT JSON")
    import json
    with open(dest) as f:
        doc = json.load(f)
    assert doc["rows"] == 2


def test_pretty_numeric_header_and_wide_chars(spark):
    df = spark.createDataFrame([(100, "日本"), (2, "ab")],
                               "total long, s string")
    lines = to_pretty(df.orderBy("total")).split("\n")
    # numeric header right-aligned inside the dashes; string left-aligned
    assert lines[0] == "┌─total─┬─s────┐"
    # 日本 occupies 4 display cells — grid stays aligned
    assert all(len(line) == len(lines[0]) or "日本" in line
               for line in lines)
    assert lines[1] == "│     2 │ ab   │"
    assert lines[2] == "│   100 │ 日本 │"


def test_protobuf_roundtrip(spark):
    """FORMAT Protobuf (registerFormats.cpp:37-40): length-delimited
    messages, varint/zigzag/fixed/packed-repeated encodings per the
    public wire spec."""
    from clickhouse_from_scratch_spark.sources import (
        from_protobuf, to_protobuf)
    schema = """
        message Doc {
          int64 id = 1;
          string title = 2;
          double score = 3;
          bool flag = 4;
          sint64 delta = 5;
          repeated int64 tags = 6;
          bytes blob = 7;
        }
    """
    rows = [
        (1, "hello", 1.5, True, -42, [1, 2, 300], bytearray(b"\x00\xff")),
        (-7, "", 0.0, False, 0, [], bytearray(b"")),
        (2**40, "unicode é", -2.25, True, 2**33, [0], bytearray(b"x")),
    ]
    df = spark.createDataFrame(
        rows, "id long, title string, score double, flag boolean, "
              "delta long, tags array<long>, blob binary")
    blob = to_protobuf(df, schema)
    back = from_protobuf(spark, blob, schema)
    got = sorted(map(tuple, back.collect()), key=str)
    want = sorted(((r[0], r[1], r[2], r[3], r[4], r[5], bytes(r[6]))
                   for r in rows), key=str)
    assert got == want


def test_protobuf_single_and_unknown_field_skip(spark):
    from clickhouse_from_scratch_spark.sources import (
        from_protobuf, to_protobuf)
    df = spark.createDataFrame([(5, "x")], "id long, s string")
    blob = to_protobuf(df, "int64 id = 1; string s = 2;", single=True)
    back = from_protobuf(spark, blob, "int64 id = 1; string s = 2;",
                         single=True)
    assert [tuple(r) for r in back.collect()] == [(5, "x")]
    # decoding with a schema missing field 2 skips it per spec
    back2 = from_protobuf(spark, blob, "int64 id = 1;", single=True)
    assert [tuple(r) for r in back2.collect()] == [(5,)]


def test_file_table_function_all_formats(spark, tmp_path):
    """file('path', fmt) reads through the same registry — including
    the Arrow IPC reader."""
    from clickhouse_from_scratch_spark.plans import execute_sql
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    pq, csv = str(tmp_path / "pq"), str(tmp_path / "csv")
    arrow = str(tmp_path / "t.arrow")
    write_format(df, "Parquet", pq)
    write_format(df, "CSVWithNames", csv)
    write_format(df, "Arrow", arrow)
    assert execute_sql(spark, f"SELECT count() AS n FROM file('{pq}', "
                              f"'Parquet')", {}).collect()[0].n == 2
    assert execute_sql(spark, f"SELECT count() AS n FROM file('{csv}', "
                              f"'CSVWithNames')", {}).collect()[0].n == 2
    assert execute_sql(spark, f"SELECT sum(id) AS s FROM file('{arrow}', "
                              f"'Arrow')", {}).collect()[0].s == 3


def test_json_as_string_input(spark, tmp_path):
    from clickhouse_from_scratch_spark.sources import read_format
    p = tmp_path / "objs.json"
    p.write_text('{"a": 1, "s": "x{y}"}\n'
                 '{\n  "a": 2,\n  "nested": {"b": 3}\n}\n')
    out = read_format(spark, "JSONAsString", str(p)).collect()
    docs = {r.json for r in out}
    assert len(docs) == 2
    assert '{"a": 1, "s": "x{y}"}' in docs             # braces in strings ok
    assert any('"b": 3' in d and d.startswith("{") for d in docs)


def test_json_each_row_with_progress_output(spark):
    import json
    from clickhouse_from_scratch_spark.sources.formats import (
        to_json_each_row_with_progress,
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], "x long, s string")
    lines = to_json_each_row_with_progress(df).strip().split("\n")
    rows = [json.loads(ln) for ln in lines]
    assert [r["row"] for r in rows[:-1]] == [{"x": "1", "s": "a"},
                                             {"x": "2", "s": "b"}] or \
           [r["row"] for r in rows[:-1]] == [{"x": 1, "s": "a"},
                                             {"x": 2, "s": "b"}]
    assert rows[-1]["progress"]["read_rows"] == "2"


# --- CapnProto (registerFormats.cpp:47-48; spec capnproto.org) --------------

def test_capnproto_roundtrip(spark):
    from datetime import date, datetime

    from clickhouse_from_scratch_spark.sources import (
        from_capnproto, to_capnproto)
    schema = ("a int, b boolean, c double, t string, d date, "
              "ts timestamp, u string, big bigint, small smallint")
    df = spark.createDataFrame(
        [(1, True, 2.5, "héllo", date(2024, 3, 15),
          datetime(2024, 3, 15, 12, 0, 0), "x", 2**40, -3),
         (-7, False, -0.25, "", date(1970, 1, 2),
          datetime(1970, 1, 1, 0, 0, 1), "end", -(2**40), 7)], schema)
    back = from_capnproto(spark, to_capnproto(df), schema)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))


def test_capnproto_framing_is_spec_conformant(spark):
    import struct

    from clickhouse_from_scratch_spark.sources import to_capnproto
    df = spark.createDataFrame([(5, "ab")], "x int, s string")
    blob = to_capnproto(df)
    # message frame: u32 segcount-1 (=0), u32 words, 8-byte aligned body
    nseg_m1, words = struct.unpack_from("<II", blob, 0)
    assert nseg_m1 == 0
    assert len(blob) == 8 + words * 8
    # root word: struct pointer (tag 0) with 1 data word, 1 pointer
    (root,) = struct.unpack_from("<Q", blob, 8)
    assert root & 3 == 0
    assert (root >> 32) & 0xFFFF == 1      # data words
    assert (root >> 48) & 0xFFFF == 1      # pointer count
    # the text pointer is a byte list (tag 1, elem size 2) counting the
    # NUL terminator
    (tp,) = struct.unpack_from("<Q", blob, 8 + 16)
    assert tp & 3 == 1
    assert (tp >> 32) & 7 == 2
    assert tp >> 35 == 3                   # 'a','b',NUL


def test_capnproto_text_only_and_empty(spark):
    from clickhouse_from_scratch_spark.sources import (
        from_capnproto, to_capnproto)
    df = spark.createDataFrame([("", "a" * 100), ("mid", "")],
                               "p string, q string")
    back = from_capnproto(spark, to_capnproto(df), "p string, q string")
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))


def test_into_outfile_binary_codecs(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    from clickhouse_from_scratch_spark.sources import (
        from_capnproto, from_row_binary)
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE bo (x Int32, s String) ENGINE = Memory")
    sess.execute("INSERT INTO bo VALUES (1, 'a'), (2, 'b')")
    rb = str(tmp_path / "out.rowbinary")
    sess.execute(f"SELECT x, s FROM bo ORDER BY x "
                 f"INTO OUTFILE '{rb}' FORMAT RowBinary")
    back = from_row_binary(spark, open(rb, "rb").read(), "x int, s string")
    assert [tuple(r) for r in back.collect()] == [(1, "a"), (2, "b")]
    cp = str(tmp_path / "out.capnp")
    sess.execute(f"SELECT x, s FROM bo ORDER BY x "
                 f"INTO OUTFILE '{cp}' FORMAT CapnProto")
    back2 = from_capnproto(spark, open(cp, "rb").read(), "x int, s string")
    assert [tuple(r) for r in back2.collect()] == [(1, "a"), (2, "b")]


def test_insert_from_infile_binary_codecs(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE bi (x Int32, s String) ENGINE = Memory")
    sess.execute("INSERT INTO bi VALUES (1, 'a'), (2, 'b')")
    for fmt, ext in [("RowBinary", "rb"), ("CapnProto", "capnp"),
                     ("MsgPackEachRow", "mp")]:
        p = str(tmp_path / f"round.{ext}")
        sess.execute(f"SELECT x, s FROM bi ORDER BY x "
                     f"INTO OUTFILE '{p}' FORMAT {fmt}")
        sess.execute(f"CREATE TABLE in_{ext} (x Int32, s String) "
                     f"ENGINE = Memory")
        sess.execute(f"INSERT INTO in_{ext} FROM INFILE '{p}' FORMAT {fmt}")
        rows = [tuple(r) for r in sess.execute(
            f"SELECT x, s FROM in_{ext} ORDER BY x").collect()]
        assert rows == [(1, "a"), (2, "b")], fmt


def test_tsv_ch_cell_conventions(spark):
    """TabSeparated: \\N nulls, escaped tabs/newlines in strings,
    [1,2]-style arrays with quoted string elements, trimmed decimals."""
    from clickhouse_from_scratch_spark.plans.engine import execute_sql
    df = execute_sql(
        spark,
        "SELECT toDecimal32(1.5, 2) AS d, nullIf(1, 1) AS nul, "
        "[1, 2] AS arr, 'a\tb' AS s, ['x', 'y'] AS sa", {})
    assert to_tab_separated(df) == "1.5\t\\N\t[1,2]\ta\\tb\t['x','y']"


def test_json_each_row_decimal_is_number(spark):
    """CH JSON renders Decimal unquoted (quote_decimals default 0)."""
    from clickhouse_from_scratch_spark.plans.engine import execute_sql
    from clickhouse_from_scratch_spark.sources.formats import (
        to_json_each_row, to_values)
    df = execute_sql(spark, "SELECT toDecimal32(1.5, 2) AS d, "
                     "toDecimal64(2, 3) AS i", {})
    # compact separators since r12 — CH emits {"x":1}, no spaces
    assert to_json_each_row(df) == '{"d":1.5,"i":2}'
    assert to_values(df) == "(1.5,2)"


# --- Regexp input format (r11; reference registerInputFormatRegexp) ---------

def test_regexp_format_insert(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    p = str(tmp_path / "in.log")
    with open(p, "w") as fh:
        fh.write("id: 1 name: alpha\nid: 2 name: beta\njunk\n")
    s.execute("CREATE TABLE rx (id Int32, name String) ENGINE = Memory")
    s.execute("SET format_regexp = 'id: (\\\\d+) name: (\\\\w+)'")
    # unmatched line raises AT INSERT and leaves the table unchanged
    with pytest.raises(Exception, match="doesn't match"):
        s.execute(f"INSERT INTO rx FROM INFILE '{p}' FORMAT Regexp")
    assert s.execute("SELECT count() AS c FROM rx").collect()[0].c == 0
    s.execute("SET format_regexp_skip_unmatched = 1")
    s.execute(f"INSERT INTO rx FROM INFILE '{p}' FORMAT Regexp")
    rows = sorted((r.id, r.name)
                  for r in s.execute("SELECT * FROM rx").collect())
    assert rows == [(1, "alpha"), (2, "beta")]


def test_regexp_format_requires_regex(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    p = str(tmp_path / "x.log")
    open(p, "w").write("a\n")
    s.execute("CREATE TABLE rq (a String) ENGINE = Memory")
    with pytest.raises(Exception, match="format_regexp"):
        s.execute(f"INSERT INTO rq FROM INFILE '{p}' FORMAT Regexp")


def test_json_compact_each_row_infile(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    p = str(tmp_path / "rows.jsonc")
    with open(p, "w") as fh:
        fh.write('[1, "x", 1.5]\n[2, "y", 2.5]\n')
    s.execute("CREATE TABLE jc (a Int32, b String, c Float64) "
              "ENGINE = Memory")
    s.execute(f"INSERT INTO jc FROM INFILE '{p}' FORMAT JSONCompactEachRow")
    rows = sorted((r.a, r.b, r.c)
                  for r in s.execute("SELECT * FROM jc").collect())
    assert rows == [(1, "x", 1.5), (2, "y", 2.5)]


def test_json_compact_inline_nested_object(spark, tmp_path):
    # an array row containing a nested object must stay ONE row (the
    # r11 ADVICE fix: the splitter counts both bracket kinds)
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    s.execute("CREATE TABLE jn (a Int32, m String, b Int32) "
              "ENGINE = Memory")
    s.execute('INSERT INTO jn FORMAT JSONCompactEachRow '
              '[1, {"k": 2}, 3] [4, "plain", 6]')
    rows = sorted((r.a, r.m, r.b)
                  for r in s.execute("SELECT * FROM jn").collect())
    assert rows == [(1, '{"k":2}', 3), (4, "plain", 6)]


def test_csv_output_ch_quoting(spark, tmp_path):
    """Published CSV format contract: String/Date/DateTime cells are
    ALWAYS double-quoted (embedded quotes doubled), numbers unquoted,
    NULL is \\N, the header is quoted too (r11)."""
    df = spark.createDataFrame(
        [(1, "plain", 1.5, None), (2, 'has,comma "q"', 2.0, 7)],
        "id long, s string, v double, n int")
    dest = str(tmp_path / "out.csv")
    write_format(df, "CSVWithNames", dest)
    lines = open(dest).read().splitlines()
    assert lines[0] == '"id","s","v","n"'
    assert '1,"plain",1.5,\\N' in lines
    assert '2,"has,comma ""q""",2,7' in lines
    back = read_format(spark, "CSVWithNames", dest,
                       schema="id long, s string, v double, n int")
    assert sorted((r.id, r.s) for r in back.collect()) == \
        [(1, "plain"), (2, 'has,comma "q"')]


def test_tsv_output_ch_escaping(spark, tmp_path):
    """TabSeparated escapes control characters instead of quoting
    (published TSV contract): tab → \\t, newline → \\n, backslash
    doubled; no quotes anywhere."""
    df = spark.createDataFrame(
        [(1, "tab\there"), (2, "nl\nhere"), (3, "back\\slash")],
        "id long, s string")
    dest = str(tmp_path / "out.tsv")
    write_format(df, "TabSeparated", dest)
    text = open(dest).read()
    assert "tab\\there" in text and "nl\\nhere" in text
    assert "back\\\\slash" in text
    assert '"' not in text
    assert len(text.splitlines()) == 3


def test_uint64_unsigned_text_rendering(spark, tmp_path):
    """UInt64-as-Long display policy: dialect-UInt64 output columns
    re-base negative longs +2^64 in every text renderer, so the max
    UInt64 prints 18446744073709551615 (CH behavior), while genuinely
    signed Int64 columns keep their sign. JSON additionally quotes
    64-bit ints (output_format_json_quote_64bit_integers = 1)."""
    from clickhouse_from_scratch_spark.ddl import ChSession
    from clickhouse_from_scratch_spark.sources.formats import (
        to_csv_text, to_json_each_row, to_pretty, to_tab_separated,
        to_values)
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    df = s.execute("SELECT toUInt64(18446744073709551615) AS u, "
                   "toInt64(-1) AS i")
    big = "18446744073709551615"
    assert to_json_each_row(df) == '{"u":"%s","i":"-1"}' % big
    assert big in to_pretty(df)
    assert to_csv_text(df) == f"{big},-1"
    assert to_tab_separated(df) == f"{big}\t-1"
    assert to_values(df) == f"({big},-1)"
    # CH types toUInt64(0) - 1 as Int64 (NumberTraits subtraction is
    # signed) — must stay -1, not re-base
    df2 = s.execute("SELECT toUInt64(0) - 1 AS wrap")
    assert to_json_each_row(df2) == '{"wrap":"-1"}'


def test_json_denormals_render_null(spark, tmp_path):
    """output_format_json_quote_denormals = 0 (CH default): nan and
    ±inf serialize as null in JSON output formats."""
    from clickhouse_from_scratch_spark.ddl import ChSession
    from clickhouse_from_scratch_spark.sources.formats import (
        to_json_each_row)
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    df = s.execute("SELECT 0/0 AS nan_v, 1/0 AS inf_v, -1/0 AS ninf_v")
    assert to_json_each_row(df) == \
        '{"nan_v":null,"inf_v":null,"ninf_v":null}'


def test_pretty_style_families(spark, tmp_path):
    """FORMAT Pretty = heavy-ruled header box; PrettyCompact = names in
    the top border; PrettySpace = no grid (published CH layouts)."""
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    base = ("SELECT number AS n, concat('row', toString(number)) AS s "
            "FROM numbers(1) FORMAT ")

    def render(fmt):
        return "\n".join(
            r.output for r in s.execute(base + fmt).collect())

    assert render("Pretty") == (
        "┏━━━┳━━━━━━┓\n"
        "┃ n ┃ s    ┃\n"
        "┡━━━╇━━━━━━┩\n"
        "│ 0 │ row0 │\n"
        "└───┴──────┘")
    assert render("PrettyCompact") == (
        "┌─n─┬─s────┐\n"
        "│ 0 │ row0 │\n"
        "└───┴──────┘")
    assert render("PrettySpace") == (
        " n   s\n"
        " 0   row0")
    # MonoBlock/NoEscapes variants share the base layouts
    assert render("PrettyCompactMonoBlock") == render("PrettyCompact")
    assert render("PrettyNoEscapes") == render("Pretty")


def test_json_output_family(spark, tmp_path):
    """JSONStringsEachRow / JSONCompactEachRow[WithNamesAndTypes] /
    JSONObjectEachRow / JSONColumns / SQLInsert renderers, with the
    dialect-UInt64 meta type honored (numbers() is UInt64)."""
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))

    def render(fmt, q="SELECT number AS x, concat('a', toString(number))"
                       " AS s FROM numbers(2)"):
        df = s.execute(f"{q} FORMAT {fmt}")
        return "\n".join(r.output for r in df.collect())

    assert render("JSONCompactEachRow") == '["0","a0"]\n["1","a1"]'
    assert render("JSONCompactEachRowWithNamesAndTypes").splitlines()[:2] \
        == ['["x","s"]', '["UInt64","String"]']
    assert render("JSONStringsEachRow") == \
        '{"x":"0","s":"a0"}\n{"x":"1","s":"a1"}'
    assert render("JSONObjectEachRow") == (
        '{\n\t"row_1": {"x":"0","s":"a0"},'
        '\n\t"row_2": {"x":"1","s":"a1"}\n}')
    assert render("JSONColumns") == (
        '{\n\t"x": ["0","1"],\n\t"s": ["a0","a1"]\n}')
    assert render("JSONCompactColumns") == '[["0","1"],["a0","a1"]]'
    assert render("SQLInsert") == \
        "INSERT INTO table (x, s) VALUES (0, 'a0'), (1, 'a1');"
    assert render("JSONLines") == render("NDJSON") == \
        '{"x":"0","s":"a0"}\n{"x":"1","s":"a1"}'


# --- one output path: the console and INTO OUTFILE write the same text ------

@pytest.fixture()
def chs(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    return ChSession(spark, warehouse=str(tmp_path / "wh"))


def _console(sess, sql):
    return "\n".join(r.output for r in sess.execute(sql).collect())


def _outfile(sess, sql, fmt, tmp_path):
    dest = str(tmp_path / f"out_{fmt}")
    sess.execute(f"{sql} INTO OUTFILE '{dest}' FORMAT {fmt}")
    with open(dest, encoding="utf-8") as fh:
        return fh.read()


UINT_PRED = ("SELECT toUInt64(-1) AS u, 1 = 1 AS p, "
             "9007199254740993 AS big")


@pytest.mark.parametrize("fmt", ["TSV", "JSONEachRow", "PrettyCompact"])
def test_outfile_writes_the_console_text(chs, tmp_path, fmt):
    """UInt64 prints unsigned and a predicate prints 1 in the file too,
    and every text format (PrettyCompact too) can be written."""
    text = _console(chs, f"{UINT_PRED} FORMAT {fmt}")
    assert "18446744073709551615" in text
    assert _outfile(chs, UINT_PRED, fmt, tmp_path) == text + "\n"
    if fmt == "JSONEachRow":
        assert text == ('{"u":"18446744073709551615","p":1,'
                        '"big":"9007199254740993"}')


def test_float_text_is_one_spelling(chs, tmp_path):
    """Console, OUTFILE and toString spell a float alike."""
    sql = "SELECT 1e-05 AS a, 1e20 AS b, toString(1e-05) AS c, 1.0 AS d"
    text = _console(chs, f"{sql} FORMAT TSV")
    assert text == "1.0E-5\t1.0E20\t1.0E-5\t1"
    assert _outfile(chs, sql, "TSV", tmp_path) == text + "\n"
    assert _console(chs, f"{sql} FORMAT CSV") == "1.0E-5,1.0E20,\"1.0E-5\",1"


def test_text_formats_keep_every_row(chs, tmp_path):
    sql = "SELECT number FROM numbers(10005)"
    for fmt in ("TSV", "CSV", "JSONEachRow"):
        assert len(_console(chs, f"{sql} FORMAT {fmt}").split("\n")) \
            == 10005, fmt
    assert len(_outfile(chs, sql, "JSONCompactEachRow",
                        tmp_path).splitlines()) == 10005


def test_template_escaping_rules_match_the_formats(chs):
    sql = ("SELECT 1 = 1 AS p, NULL AS n, 1.0 AS f, [1, 2] AS a, "
           "['x', 'y'] AS sa")
    chs.execute("SET format_template_row_format = '${p:Escaped}|"
                "${n:Escaped}|${f:Escaped}|${a:Escaped}|${sa:Escaped}'")
    tsv = _console(chs, f"{sql} FORMAT TSV")
    assert tsv == "1\t\\N\t1\t[1,2]\t['x','y']"
    assert _console(chs, f"{sql} FORMAT Template") == tsv.replace("\t", "|")
    chs.execute("SET format_template_row_format = '${f:CSV}|${sa:CSV}'")
    assert _console(chs, f"{sql} FORMAT Template") == \
        _console(chs, "SELECT 1.0 AS f, ['x', 'y'] AS sa FORMAT CSV") \
        .replace(",", "|", 1)


def test_format_row_writes_a_predicate_as_uint8(chs):
    row = chs.execute("SELECT formatRow('TSV', 1 = 1, 2) AS r").collect()
    assert row[0].r == "1\t2\n"


def test_settings_limit_keeps_the_uint64_type(chs):
    chs.execute("SET limit = 5")
    assert _console(chs, "SELECT toUInt64(-1) AS u FORMAT TSV") == \
        "18446744073709551615"
    assert _console(chs, "SELECT toUInt64(-1) AS u FORMAT JSON").count(
        '"type": "UInt64"') == 1


def test_ctas_declares_composite_and_overlay_types(chs):
    chs.execute("CREATE TABLE ct ENGINE = MergeTree ORDER BY k AS SELECT "
                "1 AS k, (1, 'a') AS tp, map('x', 1) AS m, "
                "toUInt64(5) AS u, 1 = 1 AS p")
    types = {r.name: r.type for r in
             chs.execute("DESCRIBE TABLE ct").collect()}
    # a literal is typed as ClickHouse types it (1 is UInt8), also
    # inside a composite, and is stored as that type
    assert types == {"k": "UInt8", "tp": "Tuple(UInt8, String)",
                     "m": "Map(String, UInt8)", "u": "UInt64",
                     "p": "UInt8"}
    row = chs.execute("SELECT tp, m, u, p FROM ct").collect()[0]
    assert (tuple(row.tp), row.m, row.u, row.p) == ((1, "a"), {"x": 1}, 5, 1)


def test_describe_select_spells_ch_types(chs):
    rows = chs.execute("DESCRIBE (SELECT (1, 'x') AS t, map('k', 1) AS m, "
                       "1 = 1 AS p, true AS b, [1.5] AS a)").collect()
    assert [r.type for r in rows] == [
        "Tuple(UInt8, String)", "Map(String, UInt8)", "UInt8", "Bool",
        "Array(Float64)"]


SWEEP = ("SELECT toInt32(-7) AS i32, toUInt64(18446744073709551615) AS u64, "
         "1 = 1 AS pred, true AS b, 1.0 AS f1, 1e-05 AS f2, 0/0 AS fnan, "
         "toDecimal64(1.5, 3) AS dec, 'a\\tb\\'c\\\\d' AS s, "
         "toDate('2024-02-29') AS d, "
         "toDateTime('2024-02-29 12:30:00') AS dt, NULL AS n, "
         "['x', 'y\\'z'] AS arr, (1, 'a') AS tup, map('k', 1) AS m")


def test_every_text_format_writes_the_console_text(chs, tmp_path):
    """One fixture row with every type the serializers branch on: for
    every text FORMAT the INTO OUTFILE file is the console text."""
    from clickhouse_from_scratch_spark.sources.formats import TEXT_FORMATS
    chs.execute("SET format_template_row_format = '${i32:Quoted} "
                "${s:CSV} ${arr:JSON} ${tup:XML} ${n:Raw} ${dt:Escaped}'")
    for fmt in TEXT_FORMATS:
        text = _console(chs, f"{SWEEP} FORMAT {fmt}")
        assert _outfile(chs, SWEEP, fmt, tmp_path) == text + "\n", fmt
    assert _console(chs, f"{SWEEP} FORMAT TSV") == (
        "-7\t18446744073709551615\t1\ttrue\t1\t1.0E-5\tnan\t1.5\t"
        "a\\tb'c\\\\d\t2024-02-29\t2024-02-29 12:30:00\t\\N\t"
        "['x','y\\'z']\t(1,'a')\t{'k':1}")


@pytest.mark.parametrize("fmt", ["CSV", "TSV", "JSONEachRow", "Values"])
def test_format_row_is_the_console_row(chs, fmt):
    cols = ("i32, u64, pred, b, f1, f2, fnan, dec, s, d, dt, n, arr, tup, "
            "m")
    row = chs.execute(f"SELECT formatRowNoNewline('{fmt}', {cols}) AS r "
                      f"FROM ({SWEEP})").collect()[0].r
    assert row == _console(chs, f"{SWEEP} FORMAT {fmt}")
    assert row == _console(chs, f"SELECT * FROM ({SWEEP}) FORMAT {fmt}")


def test_union_keeps_the_arms_dialect_types(chs):
    assert _console(chs, "SELECT 1 = 1 AS p, toUInt64(-1) AS u UNION ALL "
                         "SELECT 1 = 0 AS p, toUInt64(-1) AS u FORMAT TSV") \
        == "1\t18446744073709551615\n0\t18446744073709551615"


def test_byte_codecs_keep_every_row(chs, tmp_path):
    from clickhouse_from_scratch_spark.sources import from_row_binary
    dest = str(tmp_path / "rows.rb")
    chs.execute("SELECT toInt32(number) AS x FROM numbers(100005) "
                f"INTO OUTFILE '{dest}' FORMAT RowBinary")
    with open(dest, "rb") as fh:
        back = from_row_binary(chs.spark, fh.read(), "x int")
    assert back.count() == 100005


# --- one input path: every entry point reads a format the same way ----------

def _rows(sess, sql):
    return [tuple(r) for r in sess.execute(sql).collect()]


def _sql_string(text):
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def test_format_reads_json_rows_sharing_a_line(chs):
    assert _rows(chs, "SELECT a, s FROM format(JSONEachRow, "
                      "'{\"a\":1,\"s\":\"x\"} {\"a\":2,\"s\":\"y\"}') "
                      "ORDER BY a") == [(1, "x"), (2, "y")]


def test_file_tsv_unescapes_like_infile(chs, tmp_path):
    p = str(tmp_path / "t.tsv")
    chs.execute(f"SELECT 'x\\ty' AS s INTO OUTFILE '{p}' FORMAT TSV")
    assert _rows(chs, f"SELECT s, length(s) FROM file('{p}', 'TSV', "
                      "'s String')") == [("x\ty", 3)]
    assert _rows(chs, f"SELECT c1 FROM file('{p}', 'TSV')") == [("x\ty",)]


def test_format_tsv_names_columns_c1_to_cn(chs):
    df = chs.execute("SELECT * FROM format(TSV, '1\\tx\\\\ty')")
    assert df.columns == ["c1", "c2"]
    assert [tuple(r) for r in df.collect()] == [(1, "x\ty")]


def test_format_takes_a_structure(chs):
    assert _rows(chs, "SELECT * FROM format(CSV, 'a Int64, "
                      "arr Array(Int64)', '1,\"[1,2]\"')") == [(1, [1, 2])]


def test_file_row_binary_and_format_values(chs, tmp_path):
    p = str(tmp_path / "t.rb")
    chs.execute(f"SELECT toInt64(5) AS a, 'x' AS s INTO OUTFILE '{p}' "
                "FORMAT RowBinary")
    assert _rows(chs, f"SELECT * FROM file('{p}', 'RowBinary', "
                      "'a Int64, s String')") == [(5, "x")]
    assert _rows(chs, "SELECT * FROM format(Values, 'a Int64, s String', "
                      "'(1, \\'x\\'), (1 + 1, lower(\\'Y\\'))') ORDER BY a") \
        == [(1, "x"), (2, "y")]


def test_format_values_cells_see_the_session(chs):
    chs.execute("CREATE FUNCTION dbl AS (x) -> x * 2")
    chs.execute("CREATE TABLE t (a Int64, s String) ENGINE = Memory")
    chs.execute("INSERT INTO t FORMAT Values (1, 'x'), (dbl(2), 'y')")
    assert _rows(chs, "SELECT * FROM t ORDER BY a") == [(1, "x"), (4, "y")]
    assert _rows(chs, "SELECT * FROM format(Values, 'a Int64', "
                      "'(dbl(3))')") == [(6,)]


def test_structure_with_an_unknown_type_names_it(chs):
    with pytest.raises(ValueError, match="unknown type in structure: Strng"):
        chs.execute("SELECT * FROM format(CSV, 'a Strng', '1')")


# row formats, with a header or not, whose blank lines hold no row
_BLANK_LINE_FORMATS = ["CSV", "CSVWithNames", "CSVWithNamesAndTypes", "TSV",
                       "TSVWithNames", "TSVWithNamesAndTypes", "JSONEachRow",
                       "JSONCompactEachRow", "JSONStringsEachRow",
                       "JSONCompactStringsEachRow", "TSKV", "Values"]


@pytest.mark.parametrize("fmt", _BLANK_LINE_FORMATS)
def test_blank_lines_hold_no_row(chs, tmp_path, fmt):
    p = str(tmp_path / "rows")
    chs.execute("SELECT toInt64(number) AS a, toString(number) AS s "
                f"FROM numbers(2) INTO OUTFILE '{p}' FORMAT {fmt}")
    with open(p, encoding="utf-8") as fh:
        lines = fh.read().split("\n")
    # a blank line before the last row, and two after it
    lines.insert(len(lines) - 2, "")
    data = "\n".join(lines) + "\n\n"
    with open(p, "w", encoding="utf-8") as fh:
        fh.write(data)
    chs.execute("CREATE TABLE t (a Int64, s String) ENGINE = Memory")
    chs.execute(f"INSERT INTO t FROM INFILE '{p}' FORMAT {fmt}")
    structure = "'a Int64, s String'"
    want = [(0, "0"), (1, "1")]
    assert _rows(chs, "SELECT * FROM t ORDER BY a") == want
    assert _rows(chs, f"SELECT * FROM file('{p}', '{fmt}', {structure}) "
                      "ORDER BY a") == want
    assert _rows(chs, f"SELECT * FROM format({fmt}, {structure}, "
                      f"{_sql_string(data)}) ORDER BY a") == want


def test_regexp_skips_blank_lines_and_line_as_string_keeps_them(chs,
                                                                tmp_path):
    p, lines = str(tmp_path / "log.txt"), str(tmp_path / "lines.txt")
    for path in (p, lines):
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("1 x\n\n2 y\n\n")
    chs.execute("SET format_regexp = '^(\\\\d+) (\\\\w+)$'")
    assert _rows(chs, f"SELECT * FROM file('{p}', 'Regexp', "
                      "'a Int64, s String') ORDER BY a") \
        == [(1, "x"), (2, "y")]
    want = [("1 x",), ("",), ("2 y",), ("",)]
    assert _rows(chs, f"SELECT * FROM file('{lines}', 'LineAsString')") \
        == want
    assert _rows(chs, "SELECT * FROM format(LineAsString, "
                      "'1 x\\n\\n2 y\\n\\n')") == want


def test_format_regexp_reads_the_session_setting(chs):
    chs.execute("SET format_regexp = '^(\\\\d+) (\\\\w+)$'")
    assert _rows(chs, "SELECT * FROM format(Regexp, 'a Int64, s String', "
                      "'1 x\\n2 y') ORDER BY a") == [(1, "x"), (2, "y")]


def test_file_json_applies_the_structure(chs, tmp_path):
    p = str(tmp_path / "t.json")
    chs.execute(f"SELECT toUInt64(5) AS a, 'x' AS s INTO OUTFILE '{p}' "
                "FORMAT JSONEachRow")
    assert _rows(chs, f"SELECT a, toTypeName(a) FROM file('{p}', "
                      "'JSONEachRow', 'a UInt64, s String')") \
        == [(5, "UInt64")]


def test_values_table_function_runs_no_job_to_build(chs):
    sc = chs.spark.sparkContext
    sc.setJobGroup("values_build", "values() build", False)
    try:
        df = chs.execute("SELECT * FROM values('a Int32, b String', "
                         "(1 + 1, lower('A')), (3, 'b'), (4, 'c'))")
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("values_build") == []
    assert sorted(tuple(r) for r in df.collect()) == \
        [(2, "a"), (3, "b"), (4, "c")]


def test_compressed_outfile_is_the_compressed_text(chs, tmp_path):
    import gzip
    q = "SELECT toUInt64(-1) AS u, 1 = 1 AS p"
    plain, packed = str(tmp_path / "o.csv"), str(tmp_path / "o.csv.gz")
    chs.execute(f"{q} INTO OUTFILE '{plain}' FORMAT CSVWithNames")
    chs.execute(f"{q} INTO OUTFILE '{packed}' COMPRESSION 'gzip' "
                "FORMAT CSVWithNames")
    with open(plain, "rb") as fh:
        text = fh.read()
    assert text == b'"u","p"\n18446744073709551615,1\n'
    with gzip.open(packed, "rb") as fh:
        assert fh.read() == text


# One row over the types the readers branch on: a string with a tab, a
# newline and both quotes, an array, UInt64 above 2^63, a predicate, a
# Date, a DateTime64(3) with milliseconds and a NULL. Written with INTO
# OUTFILE, it reads back the same through every input entry point.
_SWEEP_SQL = ("SELECT 'a\\tb\\nc\"d\\'e\\\\f' AS s, "
              "CAST([1, 2] AS Array(Int64)) AS arr, toUInt64(-1) AS u, "
              "1 = 1 AS p, toDate('2024-01-02') AS d, "
              "toDateTime64('2024-01-02 03:04:05.120', 3) AS t, "
              "CAST(NULL AS Nullable(Int64)) AS n")
_SWEEP_COLS = [("s", "String"), ("arr", "Array(Int64)"), ("u", "UInt64"),
               ("p", "UInt8"), ("d", "Date"), ("t", "DateTime64(3)"),
               ("n", "Nullable(Int64)")]
_SWEEP_ROW = {"s": "a\tb\nc\"d'e\\f", "arr": [1, 2], "u": -1, "p": 1,
              "n": None}
# the byte codecs write a fixed set of scalar types
_CARRIES = {"RowBinary": ("s", "u", "p", "d"),
            "CapnProto": ("s", "u", "p", "d"),
            "MsgPackEachRow": ("s", "arr", "u", "p", "d", "n")}


def _read_write_formats():
    from clickhouse_from_scratch_spark.sources.formats import format_table
    return [n for n, i, o in format_table() if i and o]


@pytest.mark.parametrize("fmt", _read_write_formats())
def test_every_entry_point_reads_the_same_rows(chs, tmp_path, fmt):
    from datetime import date, datetime

    from clickhouse_from_scratch_spark.sources import TEXT_FORMATS
    names = _CARRIES.get(fmt, [n for n, _ in _SWEEP_COLS])
    cols = [(n, t) for n, t in _SWEEP_COLS if n in names]
    structure = ", ".join(f"{n} {t}" for n, t in cols)
    row = {**_SWEEP_ROW, "d": date(2024, 1, 2),
           "t": datetime(2024, 1, 2, 3, 4, 5, 120000)}
    want = [tuple(row[n] for n in names)]
    p = str(tmp_path / "rows")
    try:
        chs.execute(f"SELECT {', '.join(names)} FROM ({_SWEEP_SQL}) "
                    f"INTO OUTFILE '{p}' FORMAT {fmt}")
    except Exception as e:
        if fmt == "Avro" and "avro" in str(e).lower():
            pytest.skip("spark-avro is not on the classpath")
        raise
    chs.execute(f"CREATE TABLE infile ({structure}) ENGINE = Memory")
    chs.execute(f"INSERT INTO infile FROM INFILE '{p}' FORMAT {fmt}")
    got = {"INFILE": _rows(chs, "SELECT * FROM infile"),
           "file()": _rows(chs, f"SELECT * FROM file('{p}', '{fmt}', "
                                f"'{structure}')")}
    if fmt in TEXT_FORMATS:
        with open(p, encoding="utf-8") as fh:
            data = fh.read()
        got["format()"] = _rows(chs, f"SELECT * FROM format({fmt}, "
                                     f"'{structure}', {_sql_string(data)})")
        chs.execute(f"CREATE TABLE inline ({structure}) ENGINE = Memory")
        chs.execute(f"INSERT INTO inline FORMAT {fmt}\n{data}")
        got["INSERT FORMAT"] = _rows(chs, "SELECT * FROM inline")
    assert got == dict.fromkeys(got, want)
