"""The session catalog as the builder sees it: one statement resolves
only the tables it names, views and queries share the session state, and
engine-made result frames are local relations."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.readwriter import DataFrameReader

from clickhouse_from_scratch_spark.ddl import ChSession


@pytest.fixture()
def sess(spark, tmp_path):
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    s.execute("CREATE TABLE dim (k UInt64, name String) ENGINE = Memory")
    s.execute("INSERT INTO dim VALUES (1, 'one'), (2, 'two'), (3, 'three')")
    s.execute("CREATE DICTIONARY d (k UInt64, name String) PRIMARY KEY k "
              "SOURCE(CLICKHOUSE(TABLE 'dim')) LAYOUT(HASHED())")
    s.execute("CREATE TABLE src (k UInt64) ENGINE = Memory")
    s.execute("INSERT INTO src VALUES (1), (2), (3)")
    s.execute("CREATE FUNCTION twice AS x -> x * 2")
    return s


def _count(sess) -> int:
    return sess.execute("SELECT count() AS n FROM src").collect()[0].n


def test_view_body_sees_dictionaries(sess):
    sess.execute("CREATE VIEW v AS SELECT dictGet('d', 'name', k) AS n "
                 "FROM src")
    assert _count(sess) == 3
    got = sorted(r.n for r in sess.execute("SELECT * FROM v").collect())
    assert got == ["one", "three", "two"]


def test_view_cycle_breaks_only_its_own_statement(sess):
    sess.execute("CREATE VIEW va AS SELECT * FROM vb")
    sess.execute("CREATE VIEW vb AS SELECT * FROM va")
    assert _count(sess) == 3
    with pytest.raises(ValueError, match="circular view reference"):
        sess.execute("SELECT * FROM va")


def test_dropped_view_breaks_only_its_dependents(sess):
    sess.execute("CREATE VIEW vb AS SELECT k FROM src")
    sess.execute("CREATE VIEW va AS SELECT k FROM vb")
    sess.execute("DROP VIEW vb")
    assert _count(sess) == 3
    assert sess.execute("SELECT count() AS n FROM system.tables "
                        "WHERE name = 'va'").collect()[0].n == 1
    with pytest.raises(ValueError, match="unknown table: vb"):
        sess.execute("SELECT * FROM va")


EXPR = "twice(k) AS t, dictGet('d', 'name', k) AS n"


def test_udfs_and_dictionaries_in_every_statement(sess):
    sess.execute(f"CREATE TABLE c ENGINE = Memory AS SELECT {EXPR} FROM src")
    assert sorted(tuple(r) for r in sess.execute(
        "SELECT t, n FROM c").collect()) == [
            (2, "one"), (4, "two"), (6, "three")]
    sess.execute("CREATE TABLE i (t UInt64, n String) ENGINE = Memory")
    sess.execute(f"INSERT INTO i SELECT {EXPR} FROM src")
    assert sorted(r.n for r in sess.execute("SELECT n FROM i").collect()) \
        == ["one", "three", "two"]
    plan = "\n".join(r.explain for r in sess.execute(
        f"EXPLAIN PLAN SELECT {EXPR} FROM src").collect())
    assert "Project" in plan
    desc = {r.name: r.type for r in sess.execute(
        f"DESCRIBE (SELECT {EXPR} FROM src)").collect()}
    assert set(desc) == {"t", "n"} and desc["n"] == "String"


def test_result_settings_do_not_slice_a_view_body(sess):
    sess.execute("CREATE VIEW v3 AS SELECT k FROM src")
    sess.execute("SET limit = 1")
    assert sess.execute("SELECT count() AS n FROM v3").collect()[0].n == 3
    assert len(sess.execute("SELECT k FROM v3").collect()) == 1


def test_statement_reads_only_the_tables_it_names(sess, monkeypatch):
    for t in ("orders", "other1", "other2"):
        sess.execute(f"CREATE TABLE {t} (id UInt64, v Float64) "
                     "ENGINE = MergeTree ORDER BY id")
        sess.execute(f"INSERT INTO {t} VALUES (1, 1.5), (2, 2.5)")
    calls = {"read": 0, "frame": 0}
    parquet, create = DataFrameReader.parquet, SparkSession.createDataFrame

    def counted_parquet(self, *a, **k):
        calls["read"] += 1
        return parquet(self, *a, **k)

    def counted_create(self, *a, **k):
        calls["frame"] += 1
        return create(self, *a, **k)

    monkeypatch.setattr(DataFrameReader, "parquet", counted_parquet)
    monkeypatch.setattr(SparkSession, "createDataFrame", counted_create)
    df = sess.execute("SELECT id, v FROM orders WHERE id = 2")
    assert calls == {"read": 1, "frame": 0}
    assert [tuple(r) for r in df.collect()] == [(2, 2.5)]
    calls.update(read=0, frame=0)
    names = sess.execute("SELECT name FROM system.tables")
    assert calls == {"read": 0, "frame": 1}
    assert {"orders", "other1", "other2"} <= {r.name for r in
                                              names.collect()}


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_engine_made_frames_are_local_relations(sess):
    for df in (sess.execute("SHOW TABLES"), sess._ok(),
               sess.execute("SELECT name FROM system.tables")):
        plan = _analyzed(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan
    logged = [r[3] for r in sess.query_log]
    got = [r.event_time for r in sess.execute(
        "SELECT event_time FROM system.query_log").collect()]
    assert got == logged


@pytest.mark.parametrize("engine", ["Memory", "MergeTree ORDER BY id"])
@pytest.mark.parametrize("ftype", ["Float64", "Float32"])
def test_insert_whole_number_into_float(sess, engine, ftype):
    sess.execute(f"CREATE TABLE f (id UInt32, x {ftype}) ENGINE = {engine}")
    sess.execute("INSERT INTO f VALUES (1, 10), (2, 2.5)")
    got = sorted(tuple(r) for r in sess.execute(
        "SELECT id, x FROM f").collect())
    assert got == [(1, 10.0), (2, 2.5)]


def test_position_as_a_column_name(sess):
    sess.execute("CREATE TABLE f (a String, b Int32) ENGINE = Memory")
    got = [tuple(r) for r in sess.execute(
        "SELECT name, position FROM system.columns WHERE table = 'f' "
        "ORDER BY position").collect()]
    assert got == [("a", 1), ("b", 2)]
    r = sess.execute("SELECT position('abc', 'b') AS p, "
                     "POSITION('b' IN 'abc') AS q").collect()[0]
    assert (r.p, r.q) == (2, 2)
