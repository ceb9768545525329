"""One CH type per expression: the builder's ``_ch_type`` answers
toTypeName, the result header, DESCRIBE (SELECT …), CTAS and the cell
serializers alike."""

from __future__ import annotations

import pytest

_T = ("CREATE TABLE t (id UInt8, b Bool, n Nullable(Int32), "
      "e Enum8('a' = 1, 'b' = 2), dt DateTime64(3), fs FixedString(3), "
      "lc LowCardinality(String)) ENGINE = MergeTree ORDER BY id")
_NU = ("CREATE TABLE nu (k Int32, u Nullable(UInt64), v UInt64, "
       "lc LowCardinality(UInt64)) ENGINE = MergeTree ORDER BY k")
U64 = "18446744073709551615"


@pytest.fixture(scope="module")
def sess(spark, tmp_path_factory):
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path_factory.mktemp("wh")))
    s.execute(_T)
    s.execute("INSERT INTO t VALUES (1, true, NULL, 'a', "
              "'2024-01-01 00:00:00.120', 'abc', 'x')")
    s.execute(_NU)
    s.execute(f"INSERT INTO nu VALUES (1, {U64}, {U64}, {U64})")
    return s


def _console(sess, sql) -> list[str]:
    return [r.output for r in sess.execute(sql).collect()]


def _one(sess, sql):
    return sess.execute(sql).collect()[0][0]


def _from(src: str | None) -> str:
    return f" FROM {src}" if src else ""


# (expression, FROM): every row of the fixed defects, then the toTypeName
# cases the function tests pin
CORPUS = [
    ("dt", "t"), ("toDateTime64('2024-01-01 00:00:00.5', 3)", None),
    ("addMilliseconds(toDateTime('2024-01-01 00:00:00'), 5)", None),
    ("u", "nu"), ("lc", "nu"), ("toNullable(v)", "nu"),
    ("if(k > 0, v, v)", "nu"), ("max(v)", "nu"),
    ("n", "t"), ("e", "t"), ("fs", "t"), ("lc", "t"),
    ("if(1, 1, 2)", None), ("multiIf(b, 1, 2)", "t"), ("if(b, 1, 2)", "t"),
    ("1", None), ("materialize(1)", None), ("x", "(SELECT 1 AS x)"),
    ("(1, 'x')", None), ("tuple(1, id)", "t"), ("[id, 1]", "t"),
    ("n + 1", "t"), ("a", "t ARRAY JOIN [id, 2] AS a"),
    ("1 = 1", None), ("now64()", None), ("now64(9)", None),
    ("toDateTime64('2024-01-01 00:00:00', 6)", None),
    ("toDecimal32('1.55', 2)", None),
    ("toDateTime64('2023-01-01 12:00:00.123', 3)", None),
    ("[1, NULL]", None), ("toIntervalDay(1)", None),
    ("avg(number)", "numbers(3)"), ("sum(number)", "numbers(3)"),
    ("count()", "numbers(3)"), ("number", "numbers(3)"),
    ("number % 2", "numbers(3)"), ("-number", "numbers(3)"),
    ("map('a', 1)", None), ("map('k', (1, 'x'))", None),
    ("toIPv4('1.2.3.4')", None),
    ("toUUID('61f0c404-5cb3-11e7-907b-a6006ad3dba0')", None),
    ("tuple(1, 'a')", None), ("map('k', 1)", None),
    ("toFixedString('ab', 4)", None), ("[tuple(1, 'a'), (2, 'b')]", None),
    ("toNullable(1)", None), ("assumeNotNull(toNullable(1))", None),
    ("toDecimal64(1, 4)", None), ("toLowCardinality('x')", None),
    ("arrayMap(d -> d + toIntervalDay(1), [toDate('2024-01-01')])", None),
]


@pytest.mark.parametrize("expr,src", CORPUS)
def test_type_name_is_the_header_and_describe_type(sess, expr, src):
    """toTypeName(e), the TSVWithNamesAndTypes header of e and
    DESCRIBE (SELECT e) are one answer."""
    name = _one(sess, f"SELECT toTypeName({expr}){_from(src)}")
    header = _console(sess, f"SELECT {expr} AS c{_from(src)} "
                            "FORMAT TSVWithNamesAndTypes")[1]
    described = sess.execute(
        f"DESCRIBE (SELECT {expr} AS c{_from(src)})").collect()[0].type
    assert (name, header, described) == (name, name, name)


@pytest.mark.parametrize("expr,src,want", [
    ("dt", "t", "DateTime64(3)"),
    ("addMilliseconds(toDateTime('2024-01-01 00:00:00'), 5)", None,
     "DateTime64(3)"),
    ("n", "t", "Nullable(Int32)"), ("e", "t", "Enum8('a' = 1, 'b' = 2)"),
    ("fs", "t", "FixedString(3)"), ("lc", "t", "LowCardinality(String)"),
    ("u", "nu", "Nullable(UInt64)"), ("lc", "nu", "LowCardinality(UInt64)"),
    ("toNullable(v)", "nu", "Nullable(UInt64)"),
    ("if(k > 0, v, v)", "nu", "UInt64"), ("max(v)", "nu", "UInt64"),
    ("if(1, 1, 2)", None, "UInt8"), ("multiIf(b, 1, 2)", "t", "UInt8"),
    ("if(b, 1, 2)", "t", "UInt8"), ("1", None, "UInt8"),
    ("materialize(1)", None, "UInt8"), ("x", "(SELECT 1 AS x)", "UInt8"),
    ("(1, 'x')", None, "Tuple(UInt8, String)"),
    ("tuple(1, id)", "t", "Tuple(UInt8, UInt8)"),
    ("[id, 1]", "t", "Array(UInt8)"), ("n + 1", "t", "Nullable(Int64)"),
    ("a", "t ARRAY JOIN [id, 2] AS a", "UInt8"),
])
def test_declared_and_literal_types(sess, expr, src, want):
    header = _console(sess, f"SELECT {expr} AS c{_from(src)} "
                            "FORMAT TSVWithNamesAndTypes")[1]
    assert (_one(sess, f"SELECT toTypeName({expr}){_from(src)}"),
            header) == (want, want)


_DT = "2024-01-01 00:00:00.120"


@pytest.mark.parametrize("expr,src,text", [
    ("dt", "t", _DT),
    ("toDateTime64('2024-01-01 00:00:00.5', 3)", None,
     "2024-01-01 00:00:00.500"),
    ("addMilliseconds(toDateTime('2024-01-01 00:00:00'), 5)", None,
     "2024-01-01 00:00:00.005"),
])
def test_datetime64_cells_keep_their_scale(sess, expr, src, text):
    sql = f"SELECT {expr} AS c{_from(src)}"
    assert _console(sess, f"{sql} FORMAT TSV") == [text]
    assert _console(sess, f"{sql} FORMAT CSV") == [f'"{text}"']
    assert _console(sess, f"{sql} FORMAT JSONEachRow") == \
        [f'{{"c":"{text}"}}']
    assert _one(sess, f"SELECT formatRow('CSV', {expr}){_from(src)}") \
        == f'"{text}"\n'


def test_to_string_of_datetime64(sess):
    assert _one(sess, "SELECT toString(dt) FROM t") == _DT


@pytest.mark.parametrize("expr", ["u", "lc", "toNullable(v)",
                                  "if(k > 0, v, v)", "max(v)"])
def test_uint64_cells_are_unsigned(sess, expr):
    sql = f"SELECT {expr} AS c FROM nu"
    assert _console(sess, f"{sql} FORMAT TSV") == [U64]
    assert _console(sess, f"{sql} FORMAT CSV") == [U64]
    assert _console(sess, f"{sql} FORMAT JSONEachRow") == \
        [f'{{"c":"{U64}"}}']
    assert _one(sess, f"SELECT formatRow('CSV', {expr}) FROM nu") == \
        f"{U64}\n"


def test_ctas_declares_the_full_type(sess):
    sess.execute("CREATE TABLE ct64 ENGINE = Memory AS SELECT dt, n, lc "
                 "FROM t")
    assert [(r.name, r.type) for r in
            sess.execute("DESCRIBE TABLE ct64").collect()] == [
        ("dt", "DateTime64(3)"), ("n", "Nullable(Int32)"),
        ("lc", "LowCardinality(String)")]
    assert _console(sess, "SELECT dt FROM ct64 FORMAT TSV") == [_DT]


def test_row_binary_writes_a_literal_at_its_width(sess, tmp_path):
    dest = str(tmp_path / "five")
    sess.execute(f"SELECT 5 AS a INTO OUTFILE '{dest}' FORMAT RowBinary")
    with open(dest, "rb") as fh:
        assert fh.read() == b"\x05"


def test_query_log_is_bounded(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import QUERY_LOG_ROWS, ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    n = QUERY_LOG_ROWS + 5
    for _ in range(n):
        with pytest.raises(Exception):
            s.execute("SELEC 1")
    assert _one(s, "SELECT count() FROM system.query_log") == \
        QUERY_LOG_ROWS
    events = dict(s.execute("SELECT event, value FROM system.events")
                  .collect())
    # the count() above is the one statement that did not fail
    assert events == {"Query": n + 1, "FailedQuery": n}


def test_metrics_are_live(sess):
    metrics = dict(sess.execute("SELECT metric, value FROM system.metrics")
                   .collect())
    assert metrics["Query"] == 1
    asynchronous = dict(sess.execute(
        "SELECT metric, value FROM system.asynchronous_metrics").collect())
    assert asynchronous["Uptime"] > 0
    assert asynchronous["MemoryResident"] > 0
