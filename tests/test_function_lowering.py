"""Function lowering through the builder's one name-keyed table
(``plans/builder.py`` ``_LOWERINGS``): stages that ride on a lowering
(the bool→UInt8 cast of numeric-context names), catalog lookups, and the
single type-probe path (``_probe_dtype``), which resolves literals and
lambda parameters without a plan analysis."""
from __future__ import annotations

import datetime
import sys

import pytest

from clickhouse_from_scratch_spark.plans import execute_sql


def one(spark, sql, tables=None):
    return tuple(execute_sql(spark, sql, tables or {}).collect()[0])


def test_abs_of_a_predicate_is_uint8_arithmetic(spark):
    # CH predicates are UInt8 numbers: abs takes them like plus does
    assert one(spark, "SELECT abs(1 > 0) AS a, abs(1 > 2) AS b, "
               "abs((1 > 0) - 2) AS c") == (1, 0, 1)


def test_has_column_in_table_host_argument(spark):
    t = {"t": spark.createDataFrame([(1,)], "x int")}
    # (host, db, table, column): the host is this server, the table
    # resolves as db.table, then as a bare name
    assert one(spark, "SELECT hasColumnInTable('localhost', 'default', "
               "'t', 'x') AS a, hasColumnInTable('localhost', 'default', "
               "'t', 'zz') AS b, hasColumnInTable('default', 't', 'x') AS c",
               t) == (True, False, True)


def test_literal_probes_need_no_plan_analysis(spark, monkeypatch):
    """toDateTime('…') over a string literal gets the strict-parse guard
    from the literal's static type: building the statement runs no
    df.select probe from _call_fn."""
    t = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 3))], "id int, ts timestamp")
    frame_cls = type(t)
    real_select = frame_cls.select
    probes = []

    def counting_select(self, *cols, **kw):
        f = sys._getframe(1)
        while f is not None:
            if f.f_code.co_name == "_call_fn":
                probes.append(cols)
                break
            f = f.f_back
        return real_select(self, *cols, **kw)

    monkeypatch.setattr(frame_cls, "select", counting_select)
    df = execute_sql(spark, "SELECT id FROM t WHERE ts >= toDateTime("
                     "'2024-01-02 00:00:00') AND ts < toDateTime("
                     "'2024-01-05 00:00:00')", {"t": t})
    assert probes == []
    monkeypatch.undo()
    assert [r.id for r in df.collect()] == [1]


def test_lambda_parameters_probe_like_top_level_values(spark):
    # a lambda-bound String gets the same strict parse as toInt32('x')
    assert one(spark, "SELECT arrayMap(s -> toInt32(s), ['12', '3'])") \
        == ([12, 3],)
    with pytest.raises(Exception, match="Cannot parse Int32"):
        one(spark, "SELECT arrayMap(s -> toInt32(s), ['12', 'x'])")
    # Date ± day interval stays Date inside a lambda, like d + INTERVAL
    # 1 DAY and addDays at top level
    a, b, c = one(spark, "SELECT arrayMap(d -> d + toIntervalDay(1), "
                  "[toDate('2024-01-01')]) AS a, arrayMap(d -> d + "
                  "INTERVAL 1 DAY, [toDate('2024-01-01')]) AS b, "
                  "toTypeName(arrayMap(d -> d + toIntervalDay(1), "
                  "[toDate('2024-01-01')])) AS c")
    assert [type(v) for v in a + b] == [datetime.date, datetime.date]
    assert a == b == [datetime.date(2024, 1, 2)]
    assert c == "Array(Date)"
