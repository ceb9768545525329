"""DDL / INSERT / SHOW / admin statement lifecycle (SURVEY §2.12)."""

from __future__ import annotations

import os

import pytest

from clickhouse_from_scratch_spark.ddl import ChSession


@pytest.fixture()
def sess(spark, tmp_path):
    return ChSession(spark, warehouse=str(tmp_path / "wh"))


def test_create_insert_select_roundtrip(sess):
    sess.execute("CREATE TABLE t (id UInt32, name String, score Float64) "
                 "ENGINE = MergeTree ORDER BY id")
    sess.execute("INSERT INTO t VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    sess.execute("INSERT INTO t (id, name) VALUES (3, 'c')")
    rows = {r.id: (r.name, r.score)
            for r in sess.execute("SELECT * FROM t").collect()}
    assert rows == {1: ("a", 1.5), 2: ("b", 2.5), 3: ("c", 0.0)}
    # missing column got the CH type default (0.0), not NULL
    out = sess.execute("SELECT sum(score) AS s FROM t").collect()
    assert out[0].s == 4.0


def test_insert_select_and_ctas(sess):
    sess.execute("CREATE TABLE src (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO src VALUES (1), (2), (3)")
    sess.execute("CREATE TABLE dst ENGINE = MergeTree ORDER BY x "
                 "AS SELECT x * 10 AS x FROM src")
    assert sorted(r.x for r in sess.execute("SELECT x FROM dst").collect()) \
        == [10, 20, 30]
    sess.execute("INSERT INTO dst SELECT x FROM src")
    assert sess.execute("SELECT count() AS n FROM dst").collect()[0].n == 6


def test_partitioned_table(sess, tmp_path):
    sess.execute("CREATE TABLE pt (d String, v Int64) ENGINE = MergeTree "
                 "ORDER BY v PARTITION BY d")
    sess.execute("INSERT INTO pt VALUES ('a', 1), ('b', 2), ('a', 3)")
    import os
    path = os.path.join(str(tmp_path / "wh"), "default", "pt")
    assert os.path.isdir(os.path.join(path, "d=a"))   # real partition dirs
    got = sess.execute("SELECT d, sum(v) AS s FROM pt GROUP BY d").collect()
    assert {r.d: r.s for r in got} == {"a": 4, "b": 2}


def test_session_variables(sess):
    sess.execute("SET max_memory_usage = 1000000")
    r = sess.execute("SELECT @@max_memory_usage AS m, "
                     "getSetting('max_memory_usage') AS g").collect()[0]
    assert r.m == 1000000 and r.g == 1000000
    # CH raises UNKNOWN_SETTING, not NULL
    with pytest.raises(Exception, match="unknown setting"):
        sess.execute("SELECT @@does_not_exist")
    r = sess.execute("SELECT getSettingOrDefault('does_not_exist', 42) "
                     "AS d").collect()[0]
    assert r.d == 42
    # query-level SETTINGS suffix overrides the session value
    r = sess.execute("SELECT getSetting('max_memory_usage') AS g "
                     "SETTINGS max_memory_usage = 7").collect()[0]
    assert r.g == 7


def test_system_tables(sess):
    sess.execute("CREATE TABLE st (a Int64, b String) ENGINE = MergeTree "
                 "ORDER BY a")
    sess.execute("SET max_threads = 4")
    tabs = {(r.database, r.name): r.engine for r in
            sess.execute("SELECT * FROM system.tables").collect()}
    assert tabs[("default", "st")] == "MergeTree"
    cols = {r.name: (r.type, r.position) for r in sess.execute(
        "SELECT * FROM system.columns WHERE table = 'st'").collect()}
    assert cols == {"a": ("Int64", 1), "b": ("String", 2)}
    dbs = [r.name for r in
           sess.execute("SELECT name FROM system.databases").collect()]
    assert "default" in dbs and "system" not in dbs
    st = {r.name: r.value for r in
          sess.execute("SELECT * FROM system.settings").collect()}
    assert st["max_threads"] == "4"
    # LIMIT bounds the system.numbers scan exactly (no silent slice)
    assert sess.execute(
        "SELECT count() AS n FROM system.numbers LIMIT 5").collect()[0].n == 5
    got = sess.execute(
        "SELECT number FROM system.numbers LIMIT 2 OFFSET 3").collect()
    assert [r.number for r in got] == [3, 4]
    import pytest
    from clickhouse_from_scratch_spark.plans.builder import BuildError
    with pytest.raises(BuildError, match="unbounded"):
        sess.execute("SELECT number FROM system.numbers")
    with pytest.raises(BuildError, match="unbounded"):
        # a WHERE makes the needed scan size unknowable — refuse
        sess.execute("SELECT number FROM system.numbers "
                     "WHERE number % 2 = 0 LIMIT 5")
    assert sess.execute("SELECT dummy FROM system.one").collect()[0].dummy == 0


def test_partition_by_expression(sess, tmp_path):
    import os
    sess.execute("CREATE TABLE pe (d Date, v Int64) ENGINE = MergeTree "
                 "ORDER BY v PARTITION BY toYYYYMM(d)")
    sess.execute("INSERT INTO pe VALUES ('2024-01-15', 1), "
                 "('2024-01-20', 2), ('2024-02-01', 3)")
    path = os.path.join(str(tmp_path / "wh"), "default", "pe")
    assert os.path.isdir(os.path.join(path, "__part=202401"))
    got = sess.execute("SELECT count() AS n FROM pe").collect()
    assert got[0].n == 3
    # hidden partition column does not leak into SELECT *
    assert [f for f in sess.execute("SELECT * FROM pe").columns] == ["d", "v"]
    show = sess.execute("SHOW CREATE TABLE pe").collect()[0][0]
    assert "PARTITION BY toYYYYMM(d)" in show


def test_partition_by_tuple(sess, tmp_path):
    import os
    sess.execute("CREATE TABLE p2 (a String, b String, v Int64) "
                 "ENGINE = MergeTree ORDER BY v PARTITION BY (a, b)")
    sess.execute("INSERT INTO p2 VALUES ('x', 'y', 1), ('x', 'z', 2)")
    path = os.path.join(str(tmp_path / "wh"), "default", "p2")
    assert os.path.isdir(os.path.join(path, "a=x", "b=y"))
    got = {(r.a, r.b): r.v for r in sess.execute("SELECT * FROM p2").collect()}
    assert got == {("x", "y"): 1, ("x", "z"): 2}


def test_views(sess):
    sess.execute("CREATE TABLE base (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO base VALUES (1), (2), (3), (4)")
    sess.execute("CREATE VIEW evens AS SELECT x FROM base WHERE x % 2 = 0")
    assert sorted(r.x for r in sess.execute("SELECT * FROM evens").collect()) \
        == [2, 4]
    # view reflects later inserts (it is a stored query)
    sess.execute("INSERT INTO base VALUES (6)")
    assert sess.execute("SELECT count() AS n FROM evens").collect()[0].n == 3
    # materialized view = INSERT trigger (CH docs view#materialized):
    # without POPULATE it starts EMPTY; each later insert runs the
    # SELECT over the inserted BLOCK and appends the result
    sess.execute("CREATE MATERIALIZED VIEW snap AS SELECT count() AS n "
                 "FROM base")
    assert sess.execute("SELECT count() AS c FROM snap").collect()[0].c == 0
    sess.execute("INSERT INTO base VALUES (7)")
    rows = [r.n for r in sess.execute("SELECT n FROM snap").collect()]
    assert rows == [1]                      # the block had one row
    # POPULATE backfills the data present at creation AND accrues
    sess.execute("CREATE MATERIALIZED VIEW snap2 POPULATE AS "
                 "SELECT count() AS n FROM base")
    assert sess.execute("SELECT n FROM snap2").collect()[0].n == 6


def test_show_describe_exists(sess):
    sess.execute("CREATE TABLE abc (x Int64, s String) ENGINE = Memory")
    sess.execute("CREATE TABLE abd (y Int64) ENGINE = Memory")
    names = [r.name for r in sess.execute("SHOW TABLES").collect()]
    assert names == ["abc", "abd"]
    like = [r.name for r in sess.execute("SHOW TABLES LIKE 'ab_'").collect()]
    assert like == ["abc", "abd"]
    like2 = [r.name for r in sess.execute("SHOW TABLES LIKE '%c'").collect()]
    assert like2 == ["abc"]
    desc = sess.execute("DESCRIBE TABLE abc").collect()
    assert [(r.name, r.type) for r in desc] == [("x", "Int64"), ("s", "String")]
    assert sess.execute("EXISTS TABLE abc").collect()[0].result == 1
    assert sess.execute("EXISTS TABLE nope").collect()[0].result == 0
    stmt = sess.execute("SHOW CREATE TABLE abc").collect()[0].statement
    assert "CREATE TABLE default.abc" in stmt and "ENGINE = Memory" in stmt


def test_databases_and_use(sess):
    sess.execute("CREATE DATABASE db2")
    dbs = [r.name for r in sess.execute("SHOW DATABASES").collect()]
    assert dbs == ["db2", "default"]
    sess.execute("USE db2")
    sess.execute("CREATE TABLE only_here (x Int64) ENGINE = Memory")
    assert [r.name for r in sess.execute("SHOW TABLES").collect()] \
        == ["only_here"]
    sess.execute("USE default")
    assert "only_here" not in [r.name for r in
                               sess.execute("SHOW TABLES").collect()]
    sess.execute("DROP DATABASE db2")
    assert "db2" not in [r.name for r in
                         sess.execute("SHOW DATABASES").collect()]


def test_cross_db_qualified_select(sess):
    """FROM otherdb.t must hit otherdb even when the current db shadows
    the name (ADVICE r1: unqualified fallback returned wrong data)."""
    sess.execute("CREATE DATABASE db2")
    sess.execute("CREATE TABLE t (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO t VALUES (1)")
    sess.execute("USE db2")
    sess.execute("CREATE TABLE t (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO t VALUES (100), (200)")
    sess.execute("USE default")
    assert sess.execute("SELECT sum(x) AS s FROM t").collect()[0].s == 1
    assert sess.execute("SELECT sum(x) AS s FROM db2.t").collect()[0].s == 300
    with pytest.raises(Exception):
        sess.execute("SELECT * FROM db3.t")


def test_cross_db_qualified_final(sess):
    """FROM db.t FINAL uses db.t's OWN engine metadata, not a shadow's."""
    sess.execute("CREATE DATABASE db2")
    sess.execute("CREATE TABLE r (k Int64, v Int64, ver Int64) "
                 "ENGINE = Memory")   # no ORDER BY: FINAL here would error
    sess.execute("USE db2")
    sess.execute("CREATE TABLE r (k Int64, v Int64, ver Int64) "
                 "ENGINE = ReplacingMergeTree(ver) ORDER BY k")
    sess.execute("INSERT INTO r VALUES (1, 10, 1), (1, 20, 2), (2, 5, 1)")
    sess.execute("USE default")
    got = {r.k: r.v for r in
           sess.execute("SELECT k, v FROM db2.r FINAL").collect()}
    assert got == {1: 20, 2: 5}


def test_drop_rename_truncate(sess):
    sess.execute("CREATE TABLE a (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO a VALUES (1)")
    sess.execute("RENAME TABLE a TO b")
    assert sess.execute("SELECT count() AS n FROM b").collect()[0].n == 1
    sess.execute("TRUNCATE TABLE b")
    assert sess.execute("SELECT count() AS n FROM b").collect()[0].n == 0
    sess.execute("DROP TABLE b")
    sess.execute("DROP TABLE IF EXISTS b")    # idempotent
    with pytest.raises(ValueError, match="unknown table"):
        sess.execute("DROP TABLE b")


def test_optimize_deduplicate_and_final(sess):
    sess.execute("CREATE TABLE r (k Int64, v Int64, ver Int64) "
                 "ENGINE = ReplacingMergeTree ORDER BY k "
                 "SETTINGS version = 'ver'" if False else
                 "CREATE TABLE r (k Int64, v Int64) ENGINE = Memory")
    sess.execute("INSERT INTO r VALUES (1, 10), (1, 10), (2, 20)")
    sess.execute("OPTIMIZE TABLE r DEDUPLICATE")
    assert sess.execute("SELECT count() AS n FROM r").collect()[0].n == 2
    sess.execute("INSERT INTO r VALUES (1, 99)")
    sess.execute("OPTIMIZE TABLE r DEDUPLICATE BY k")
    assert sess.execute("SELECT count() AS n FROM r").collect()[0].n == 2


def test_final_on_replacing_table(sess):
    sess.execute("CREATE TABLE rv (k Int64, v Int64, ver Int64) "
                 "ENGINE = ReplacingMergeTree ORDER BY k")
    sess.execute("INSERT INTO rv VALUES (1, 10, 1), (1, 11, 2), (2, 20, 1)")
    # FINAL uses engine metadata: ORDER BY key + version (last key col
    # default; here explicit ver via settings path is exercised in ddl)
    got = {r.k: r.v for r in sess.execute(
        "SELECT k, v FROM rv FINAL").collect()}
    assert got[2] == 20 and got[1] in (10, 11)


def test_settings_and_set(sess):
    sess.execute("SET max_threads = 8, use_uncompressed_cache = 0")
    assert sess.settings == {"max_threads": 8, "use_uncompressed_cache": 0}


def test_explain(sess):
    sess.execute("CREATE TABLE e (x Int64) ENGINE = Memory")
    lines = [r.explain for r in
             sess.execute("EXPLAIN PLAN SELECT x FROM e WHERE x > 1").collect()]
    text = "\n".join(lines)
    assert "Physical Plan" in text or "Filter" in text
    ast_lines = [r.explain for r in
                 sess.execute("EXPLAIN AST SELECT 1").collect()]
    assert "SelectQuery" in ast_lines[0]


def test_check_table(sess):
    sess.execute("CREATE TABLE c (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO c VALUES (1), (2)")
    row = sess.execute("CHECK TABLE c").collect()[0]
    assert row.result == 1 and row.rows == 2


def test_external_registration_with_final(sess, sf_dir):
    df = sess.spark.read.parquet(f"{sf_dir}/orders.parquet")
    sess.register_external("orders", df, order_by=["o_custkey"],
                           version="o_orderdate")
    n_all = sess.execute("SELECT count() AS n FROM orders").collect()[0].n
    n_final = sess.execute(
        "SELECT count() AS n FROM orders FINAL").collect()[0].n
    n_cust = sess.execute(
        "SELECT count() AS n FROM (SELECT DISTINCT o_custkey FROM orders)"
    ).collect()[0].n
    assert n_final == n_cust < n_all


def test_create_table_if_not_exists_and_replace(sess):
    sess.execute("CREATE TABLE x (a Int64) ENGINE = Memory")
    sess.execute("CREATE TABLE IF NOT EXISTS x (a Int64) ENGINE = Memory")
    with pytest.raises(ValueError, match="exists"):
        sess.execute("CREATE TABLE x (a Int64) ENGINE = Memory")
    sess.execute("CREATE OR REPLACE TABLE x (b String) ENGINE = Memory")
    desc = sess.execute("DESCRIBE x").collect()
    assert [(r.name, r.type) for r in desc] == [("b", "String")]


def test_unknown_engine_rejected(sess):
    with pytest.raises(ValueError, match="unknown engine"):
        sess.execute("CREATE TABLE k (x Int64) ENGINE = Kafka")


def test_column_features_parse(sess):
    # DEFAULT / COMMENT / CODEC / TTL clauses parse and record
    sess.execute(
        "CREATE TABLE f (id UInt64, v Float64 DEFAULT 0 COMMENT 'val' "
        "CODEC(ZSTD(3)), s String) ENGINE = MergeTree ORDER BY id "
        "TTL id SETTINGS index_granularity = 8192")
    desc = sess.execute("DESCRIBE f").collect()
    assert len(desc) == 3


def test_create_function_sql_lambda(spark, tmp_path):
    """CREATE FUNCTION name AS (args) -> expr: macro-expanded SQL UDFs
    (reference declares the AST at ASTCreateFunctionQuery.h; parser
    hookup commented out at ParserQuery.cpp:43 — semantics per public
    CH docs). Pure expression substitution: stays JVM-side."""
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    s.execute("CREATE FUNCTION linear AS (x, k, b) -> k*x + b")
    s.execute("CREATE FUNCTION shout AS v -> upper(concat(v, '!'))")
    r = s.execute("SELECT linear(10, 2, 1) AS v, shout('hi') AS t") \
         .collect()[0]
    assert (r.v, r.t) == (21, "HI!")
    # UDFs compose
    s.execute("CREATE FUNCTION twice AS x -> linear(x, 2, 0)")
    assert s.execute("SELECT twice(21) AS v").collect()[0].v == 42
    # OR REPLACE rebinds; IF NOT EXISTS is a no-op on conflict
    s.execute("CREATE OR REPLACE FUNCTION shout AS v -> lower(v)")
    s.execute("CREATE FUNCTION IF NOT EXISTS shout AS v -> v")
    assert s.execute("SELECT shout('HI') AS t").collect()[0].t == "hi"
    with pytest.raises(ValueError, match="already exists"):
        s.execute("CREATE FUNCTION shout AS v -> v")
    with pytest.raises(ValueError, match="expects 3 arguments"):
        s.execute("SELECT linear(1)").collect()
    s.execute("DROP FUNCTION shout")
    with pytest.raises(Exception, match="unknown function"):
        s.execute("SELECT shout('x')").collect()
    s.execute("DROP FUNCTION IF EXISTS shout")    # idempotent


def test_insert_expressions_inline_format_and_infile(spark, tmp_path):
    """INSERT VALUES with expressions (CH evaluates them), inline
    FORMAT JSONEachRow/CSV data, and FROM INFILE round-trip
    (ParserInsertQuery surface)."""
    from clickhouse_from_scratch_spark.ddl import ChSession
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    s.execute("CREATE TABLE t (a Int64, b String, c Float64) "
              "ENGINE = Memory")
    s.execute("INSERT INTO t VALUES (1+1, upper('x'), 1/4)")
    s.execute("INSERT INTO t SELECT 9, 'z', 2.5")
    s.execute('INSERT INTO t FORMAT JSONEachRow '
              '{"a": 7, "b": "j", "c": 0.5}\n{"a": 8, "b": "k", "c": 1.5}')
    s.execute('INSERT INTO t FORMAT CSV 11,"k",1.5')
    rows = sorted(tuple(r) for r in s.execute("SELECT * FROM t").collect())
    assert rows == [(2, "X", 0.25), (7, "j", 0.5), (8, "k", 1.5),
                    (9, "z", 2.5), (11, "k", 1.5)]
    out = str(tmp_path / "out.csv")
    s.execute(f"SELECT a, b, c FROM t INTO OUTFILE '{out}' "
              f"FORMAT CSVWithNames")
    s.execute("CREATE TABLE t2 (a Int64, b String, c Float64) "
              "ENGINE = Memory")
    s.execute(f"INSERT INTO t2 FROM INFILE '{out}' FORMAT CSVWithNames")
    assert s.execute("SELECT count() AS n FROM t2").collect()[0].n == 5


def test_inline_format_insert_no_temp_leak(sess):
    """Inline FORMAT data reaches the reader through a temp file, removed
    once the INSERT is done; the lazy readers (a Memory table, a
    materialized view into one) still read their rows afterwards."""
    import glob
    import tempfile
    pattern = os.path.join(tempfile.gettempdir(), "*.rows")
    before = set(glob.glob(pattern))
    sess.execute("CREATE TABLE fm (a Int64, b String) "
                 "ENGINE = MergeTree ORDER BY a")
    sess.execute("CREATE TABLE fmem (a Int64, b String) ENGINE = Memory")
    sess.execute("CREATE TABLE fmv (a Int64) ENGINE = Memory")
    sess.execute("CREATE MATERIALIZED VIEW fm_mv TO fmv AS "
                 "SELECT a * 10 AS a FROM fm")
    for t in ("fm", "fmem"):
        sess.execute(f'INSERT INTO {t} FORMAT JSONEachRow '
                     '{"a": 1, "b": "x"} {"a": 2, "b": "y"}')
        sess.execute(f'INSERT INTO {t} FORMAT CSV 3,"z"')
    assert set(glob.glob(pattern)) <= before
    for t in ("fm", "fmem"):
        assert sorted(tuple(r) for r in sess.execute(
            f"SELECT a, b FROM {t}").collect()) == \
            [(1, "x"), (2, "y"), (3, "z")]
    assert sorted(r.a for r in sess.execute("SELECT a FROM fmv").collect()) \
        == [10, 20, 30]


def test_select_bare_literal_columns(spark):
    """Auto-named float-literal columns (`2.5`) must not be parsed as
    struct field access in the final projection."""
    from clickhouse_from_scratch_spark.plans import execute_sql
    r = execute_sql(spark, "SELECT 9, 'z', 2.5", {}).collect()[0]
    assert tuple(r) == (9, "z", 2.5)


def test_alter_column_ddl(sess):
    sess.execute("CREATE TABLE at (id UInt32, name String) "
                 "ENGINE = MergeTree ORDER BY id")
    sess.execute("INSERT INTO at VALUES (1, 'a'), (2, 'b')")
    sess.execute("ALTER TABLE at ADD COLUMN score Float64 DEFAULT 1.5, "
                 "ADD COLUMN tag String AFTER name")
    rows = {r.id: (r.name, r.tag, r.score)
            for r in sess.execute("SELECT * FROM at").collect()}
    # tag sits between name and score; defaults fill existing rows
    assert rows == {1: ("a", "", 1.5), 2: ("b", "", 1.5)}
    cols = [r[0] for r in sess.execute("DESCRIBE at").collect()]
    assert cols == ["id", "name", "tag", "score"]
    sess.execute("ALTER TABLE at RENAME COLUMN tag TO label")
    sess.execute("ALTER TABLE at MODIFY COLUMN score UInt32")
    out = sess.execute("SELECT label, score FROM at WHERE id = 1").collect()
    assert out[0].label == "" and out[0].score == 1
    sess.execute("ALTER TABLE at DROP COLUMN label")
    assert [r[0] for r in sess.execute("DESCRIBE at").collect()] \
        == ["id", "name", "score"]
    # IF [NOT] EXISTS guards
    sess.execute("ALTER TABLE at ADD COLUMN IF NOT EXISTS score Float64")
    sess.execute("ALTER TABLE at DROP COLUMN IF EXISTS missing")
    with pytest.raises(ValueError):
        sess.execute("ALTER TABLE at DROP COLUMN missing")


def test_alter_update_delete_mutations(sess):
    sess.execute("CREATE TABLE mt (id UInt32, v Int64, w Int64) "
                 "ENGINE = MergeTree ORDER BY id")
    sess.execute("INSERT INTO mt VALUES (1, 10, 1), (2, 20, 2), (3, 30, 3)")
    # all assignments read PRE-mutation values: v/w swap, not chain
    sess.execute("ALTER TABLE mt UPDATE v = w, w = v WHERE id <= 2")
    rows = {r.id: (r.v, r.w) for r in sess.execute("SELECT * FROM mt").collect()}
    assert rows == {1: (1, 10), 2: (2, 20), 3: (30, 3)}
    sess.execute("ALTER TABLE mt DELETE WHERE v >= 30")
    assert sorted(r.id for r in sess.execute("SELECT id FROM mt").collect()) \
        == [1, 2]


def test_alter_memory_table_and_metadata_cmds(sess):
    sess.execute("CREATE TABLE mem (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO mem VALUES (1), (2), (3)")
    sess.execute("ALTER TABLE mem UPDATE x = x * 100 WHERE x > 1")
    assert sorted(r.x for r in sess.execute("SELECT x FROM mem").collect()) \
        == [1, 200, 300]
    sess.execute("ALTER TABLE mem COMMENT COLUMN x 'the value', "
                 "ADD INDEX ix x TYPE minmax GRANULARITY 1, "
                 "MODIFY TTL x + INTERVAL 30 DAY")
    meta = sess.databases["default"]["mem"]
    assert meta.settings["comment:x"] == "the value"
    assert meta.settings["indexes"] and meta.ttl
    sess.execute("ALTER TABLE mem DROP INDEX ix")
    assert meta.settings["indexes"] == []


def test_create_dictionary_and_dictget(sess):
    sess.execute("CREATE TABLE dim (id UInt64, name String, pop UInt32) "
                 "ENGINE = Memory")
    sess.execute("INSERT INTO dim VALUES (1, 'fr', 67), (2, 'de', 83), "
                 "(3, 'it', 59)")
    sess.execute("""
        CREATE DICTIONARY country_dict (
            id UInt64,
            name String DEFAULT '?',
            pop UInt32
        ) PRIMARY KEY id
        SOURCE(CLICKHOUSE(TABLE 'dim'))
        LAYOUT(HASHED())
        LIFETIME(MIN 0 MAX 300)
    """)
    assert [r.name for r in sess.execute("SHOW DICTIONARIES").collect()] \
        == ["country_dict"]
    sess.execute("CREATE TABLE facts (cid UInt64, v Int64) ENGINE = Memory")
    sess.execute("INSERT INTO facts VALUES (1, 10), (2, 20), (9, 90)")
    rows = sess.execute(
        "SELECT cid, dictGet('country_dict', 'name', cid) AS nm, "
        "dictGetOrDefault('country_dict', 'pop', cid, 0) AS p, "
        "dictHas('country_dict', cid) AS h, "
        "dictGetOrNull('country_dict', 'name', cid) AS n2 "
        "FROM facts ORDER BY cid").collect()
    assert [(r.cid, r.nm, r.p, r.h, r.n2) for r in rows] == [
        (1, "fr", 67, 1, "fr"), (2, "de", 83, 1, "de"),
        (9, "?", 0, 0, None)]          # miss → declared DEFAULT '?'
    # typed variant casts the result
    out = sess.execute(
        "SELECT dictGetString('country_dict', 'name', 3) AS s").collect()
    assert out[0].s == "it"
    # reload picks up source changes
    sess.execute("INSERT INTO dim VALUES (9, 'es', 47)")
    assert sess.execute("SELECT dictGet('country_dict', 'name', 9) AS s"
                        ).collect()[0].s == "?"          # cached miss
    sess.execute("SYSTEM RELOAD DICTIONARY country_dict")
    assert sess.execute("SELECT dictGet('country_dict', 'name', 9) AS s"
                        ).collect()[0].s == "es"
    sess.execute("DROP DICTIONARY country_dict")
    assert sess.execute("SHOW DICTIONARIES").count() == 0
    with pytest.raises(Exception):
        sess.execute("SELECT dictGet('country_dict', 'name', 1)")


def test_large_dictionary_uses_arrow_path(sess, spark):
    # >2000 entries switches dictGet from create_map literal to the
    # Arrow-batched Series.map closure; results must be identical
    from pyspark.sql import functions as F
    src = spark.range(0, 3000).select(
        F.col("id"), (F.col("id") * 2).alias("dbl"))
    sess.register_external("big", src)
    sess.databases["default"]["big"].columns = [("id", "UInt64"),
                                                ("dbl", "Int64")]
    sess.execute("CREATE DICTIONARY bigd (id UInt64, dbl Int64) "
                 "PRIMARY KEY id SOURCE(CLICKHOUSE(TABLE 'big')) "
                 "LAYOUT(HASHED()) LIFETIME(0)")
    out = sess.execute(
        "SELECT sum(dictGet('bigd', 'dbl', number)) AS s "
        "FROM numbers(2999)").collect()
    assert out[0].s == 2999 * 2998  # sum of 2*i for i < 2999


def test_system_dictionaries_table(sess):
    sess.execute("CREATE TABLE sd (k UInt64, v String) ENGINE = Memory")
    sess.execute("INSERT INTO sd VALUES (1, 'x')")
    sess.execute("CREATE DICTIONARY d1 (k UInt64, v String) PRIMARY KEY k "
                 "SOURCE(CLICKHOUSE(TABLE 'sd')) LAYOUT(FLAT()) LIFETIME(0)")
    row = sess.execute("SELECT * FROM system.dictionaries").collect()[0]
    assert (row.name, row.layout, row.key, row.source, row.loaded) == \
        ("d1", "FLAT", "k", "sd", False)
    sess.execute("SELECT dictGet('d1', 'v', 1)").collect()
    assert sess.execute("SELECT loaded FROM system.dictionaries"
                        ).collect()[0].loaded is True


def test_create_table_as_table_function(sess):
    # CREATE ... AS table_function(...) materializes the function's rows
    sess.execute("CREATE TABLE nums ENGINE = Memory AS numbers(5)")
    assert sess.execute("SELECT count() AS n FROM nums").collect()[0].n == 5
    # while AS other_table copies schema only (CH semantics)
    sess.execute("CREATE TABLE src2 (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO src2 VALUES (7)")
    sess.execute("CREATE TABLE empty_copy ENGINE = Memory AS src2")
    assert sess.execute("SELECT count() AS n FROM empty_copy"
                        ).collect()[0].n == 0


def test_show_create_dictionary(sess):
    sess.execute("CREATE TABLE dsrc (k UInt64, v String) ENGINE = Memory")
    sess.execute("CREATE DICTIONARY dd (k UInt64, v String DEFAULT '?') "
                 "PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'dsrc')) "
                 "LAYOUT(FLAT()) LIFETIME(MIN 0 MAX 300)")
    stmt = sess.execute("SHOW CREATE DICTIONARY dd").collect()[0].statement
    assert stmt.startswith("CREATE DICTIONARY default.dd")
    assert "PRIMARY KEY k" in stmt and "LAYOUT(FLAT())" in stmt
    assert "DEFAULT '?'" in stmt


def test_alter_mutation_on_partitioned_table(sess, tmp_path):
    import os
    # ORDER BY k: v stays mutable (CH forbids UPDATE of key columns)
    sess.execute("CREATE TABLE part_mut (d String, k Int64, v Int64) "
                 "ENGINE = MergeTree ORDER BY k PARTITION BY d")
    sess.execute("INSERT INTO part_mut VALUES ('a', 1, 1), ('b', 2, 2), "
                 "('a', 3, 3)")
    sess.execute("ALTER TABLE part_mut UPDATE v = v * 10 WHERE d = 'a'")
    got = {(r.d, r.v) for r in
           sess.execute("SELECT d, v FROM part_mut").collect()}
    assert got == {("a", 10), ("b", 2), ("a", 30)}
    # partition directory layout survives the rewrite
    path = os.path.join(str(tmp_path / "wh"), "default", "part_mut")
    assert os.path.isdir(os.path.join(path, "d=a"))
    sess.execute("ALTER TABLE part_mut DELETE WHERE d = 'b'")
    assert sess.execute("SELECT count() AS n FROM part_mut"
                        ).collect()[0].n == 2


def test_summing_merge_tree_final(sess):
    sess.execute("CREATE TABLE sums (k UInt32, v Int64, note String) "
                 "ENGINE = SummingMergeTree ORDER BY k")
    sess.execute("INSERT INTO sums VALUES (1, 10, 'a'), (1, 5, 'b'), "
                 "(2, 7, 'c')")
    rows = {(r.k): (r.v, r.note) for r in
            sess.execute("SELECT k, v, note FROM sums FINAL").collect()}
    assert rows[1][0] == 15 and rows[2] == (7, "c")   # v summed per key
    # OPTIMIZE FINAL materializes the same collapse
    sess.execute("OPTIMIZE TABLE sums FINAL")
    assert sess.execute("SELECT count() AS n FROM sums").collect()[0].n == 2


def test_collapsing_merge_tree_final(sess):
    sess.execute("CREATE TABLE col (k UInt32, v Int64, sign Int8) "
                 "ENGINE = CollapsingMergeTree(sign) ORDER BY k")
    sess.execute("INSERT INTO col VALUES (1, 10, 1), (1, 10, -1), "
                 "(1, 20, 1), (2, 5, 1), (3, 9, 1), (3, 9, -1)")
    rows = {r.k: r.v for r in
            sess.execute("SELECT k, v FROM col FINAL").collect()}
    # key 1: pair cancels, latest +1 (v=20) survives; key 3 vanishes
    assert rows == {1: 20, 2: 5}


def test_replacing_merge_tree_version_arg(sess):
    sess.execute("CREATE TABLE rep (k UInt32, ver UInt64, v String) "
                 "ENGINE = ReplacingMergeTree(ver) ORDER BY k")
    sess.execute("INSERT INTO rep VALUES (1, 2, 'new'), (1, 1, 'old')")
    out = sess.execute("SELECT v FROM rep FINAL").collect()
    assert [r.v for r in out] == ["new"]              # max ver wins


def test_versioned_collapsing_merge_tree_final(sess):
    sess.execute("CREATE TABLE vc (k UInt32, v String, sign Int8, "
                 "ver UInt64) ENGINE = VersionedCollapsingMergeTree"
                 "(sign, ver) ORDER BY k")
    sess.execute("INSERT INTO vc VALUES "
                 "(1, 'v1', 1, 1), (1, 'v1', -1, 1), (1, 'v2', 1, 2), "
                 "(2, 'x', 1, 5)")
    rows = {r.k: r.v for r in
            sess.execute("SELECT k, v FROM vc FINAL").collect()}
    assert rows == {1: "v2", 2: "x"}      # ver=1 pair cancels, max ver wins


def test_aggregating_merge_tree_uniq_state_roundtrip(sess):
    """uniqState → AggregateFunction(uniq) binary HLL column →
    AggregatingMergeTree FINAL merges sketches → uniqMerge finalizes.
    The estimate must match the exact distinct count on small sets."""
    sess.execute("CREATE TABLE ev (user Int64, day Int64) "
                 "ENGINE = Memory")
    sess.execute("INSERT INTO ev VALUES (1, 1), (2, 1), (3, 1), "
                 "(2, 2), (3, 2), (4, 2)")
    sess.execute(
        "CREATE TABLE amt (day Int64, users AggregateFunction(uniq, Int64))"
        " ENGINE = AggregatingMergeTree ORDER BY day")
    # two inserts per day → two sketch rows per key that FINAL must merge
    sess.execute("INSERT INTO amt SELECT day, uniqState(user) FROM ev "
                 "WHERE user <= 2 GROUP BY day")
    sess.execute("INSERT INTO amt SELECT day, uniqState(user) FROM ev "
                 "WHERE user > 2 GROUP BY day")
    assert sess.execute("SELECT count() AS n FROM amt").collect()[0].n == 4
    rows = {r.day: r.u for r in sess.execute(
        "SELECT day, uniqMerge(users) AS u FROM amt FINAL "
        "GROUP BY day").collect()}
    assert rows == {1: 3, 2: 3}
    # merging states across ALL rows without FINAL gives the same answer
    # (uniqMerge is a real sketch union, not a sum of finalized counts)
    tot = sess.execute("SELECT uniqMerge(users) AS u FROM amt").collect()
    assert tot[0].u == 4


def test_aggregating_merge_tree_uniq_exact_state(sess):
    sess.execute("CREATE TABLE ev2 (user Int64, day Int64) ENGINE = Memory")
    sess.execute("INSERT INTO ev2 VALUES (1, 1), (2, 1), (2, 1), (9, 2)")
    sess.execute("CREATE TABLE amt2 (day Int64, "
                 "users AggregateFunction(uniqExact, Int64)) "
                 "ENGINE = AggregatingMergeTree ORDER BY day")
    sess.execute("INSERT INTO amt2 SELECT day, uniqExactState(user) "
                 "FROM ev2 GROUP BY day")
    sess.execute("INSERT INTO amt2 SELECT day, uniqExactState(user + 10) "
                 "FROM ev2 GROUP BY day")
    rows = {r.day: r.u for r in sess.execute(
        "SELECT day, uniqExactMerge(users) AS u FROM amt2 FINAL "
        "GROUP BY day").collect()}
    # day 1: {1,2} ∪ {11,12} = 4 exact; day 2: {9} ∪ {19} = 2
    assert rows == {1: 4, 2: 2}


def test_finalize_aggregation_on_states(sess):
    sess.execute("CREATE TABLE e3 (u Int64, d Int64) ENGINE = Memory")
    sess.execute("INSERT INTO e3 VALUES (1, 1), (2, 1), (2, 1), (7, 2)")
    sess.execute("CREATE TABLE a3 (d Int64, "
                 "hs AggregateFunction(uniq, Int64), "
                 "es AggregateFunction(uniqExact, Int64)) "
                 "ENGINE = AggregatingMergeTree ORDER BY d")
    sess.execute("INSERT INTO a3 SELECT d, uniqState(u), uniqExactState(u) "
                 "FROM e3 GROUP BY d")
    rows = {r.d: (r.h, r.e) for r in sess.execute(
        "SELECT d, finalizeAggregation(hs) AS h, "
        "finalizeAggregation(es) AS e FROM a3 FINAL").collect()}
    assert rows == {1: (2, 2), 2: (1, 1)}


def test_exchange_tables(sess):
    sess.execute("CREATE TABLE exa (x Int64) ENGINE = Memory")
    sess.execute("CREATE TABLE exb (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO exa VALUES (1)")
    sess.execute("INSERT INTO exb VALUES (2), (3)")
    sess.execute("EXCHANGE TABLES exa AND exb")
    assert sess.execute("SELECT count() AS n FROM exa").collect()[0].n == 2
    assert sess.execute("SELECT count() AS n FROM exb").collect()[0].n == 1
    # swap back (self-inverse)
    sess.execute("EXCHANGE TABLES exa AND exb")
    assert sess.execute("SELECT x FROM exa").collect()[0].x == 1


# --- EXTERNAL DDL FROM MySQL (ParserExternalDDLQuery.cpp:26-55) -------------

MYSQL_CREATE = """
EXTERNAL DDL FROM MySQL('127.0.0.1:3306', 'shop', 'orders', 'u', 'p')
CREATE TABLE `orders` (
  `id` BIGINT UNSIGNED NOT NULL AUTO_INCREMENT,
  `customer` VARCHAR(64) NOT NULL DEFAULT '',
  `qty` INT,
  `price` DECIMAL(12, 2) NOT NULL,
  `flag` TINYINT UNSIGNED,
  `note` TEXT,
  `created` DATETIME(3) DEFAULT CURRENT_TIMESTAMP(3),
  `updated` TIMESTAMP NULL DEFAULT NULL ON UPDATE CURRENT_TIMESTAMP,
  PRIMARY KEY (`id`),
  KEY `idx_customer` (`customer`),
  UNIQUE KEY `uq` (`customer`, `created`)
) ENGINE=InnoDB AUTO_INCREMENT=17 DEFAULT CHARSET=utf8mb4 COMMENT='orders'
"""


def test_external_ddl_mysql_create(sess):
    sess.execute(MYSQL_CREATE)
    cols = {r.name: r.type for r in sess.execute(
        "SELECT name, type FROM system.columns WHERE table = 'orders'"
    ).collect()}
    # MaterializeMySQL type mapping: UNSIGNED ints widen family, NULLable
    # columns (MySQL default) wrap in Nullable, DATETIME(3) keeps ms
    assert cols["id"] == "UInt64"
    assert cols["customer"] == "String"
    assert cols["qty"] == "Nullable(Int32)"
    assert cols["price"] == "Decimal(12, 2)"
    assert cols["flag"] == "Nullable(UInt8)"
    assert cols["note"] == "Nullable(String)"
    assert cols["created"] == "Nullable(DateTime64(3))"
    assert cols["updated"] == "Nullable(DateTime)"
    meta = sess.execute("SELECT engine, sorting_key FROM system.tables "
                        "WHERE name = 'orders'").collect()[0]
    assert meta.engine == "ReplacingMergeTree"
    assert meta.sorting_key == "id"
    sess.execute("INSERT INTO orders (id, customer, price) "
                 "VALUES (1, 'acme', 9.5)")
    assert sess.execute("SELECT count() AS c FROM orders").collect()[0].c == 1


def test_external_ddl_mysql_drop_and_truncate(sess):
    sess.execute(MYSQL_CREATE)
    sess.execute("INSERT INTO orders (id, customer, price) "
                 "VALUES (1, 'acme', 9.5)")
    sess.execute("EXTERNAL DDL FROM MySQL('h:3306','shop','orders','u','p') "
                 "TRUNCATE TABLE orders")
    assert sess.execute("SELECT count() AS c FROM orders").collect()[0].c == 0
    sess.execute("EXTERNAL DDL FROM MySQL('h:3306','shop','orders','u','p') "
                 "DROP TABLE orders")
    assert sess.execute("EXISTS TABLE orders").collect()[0][0] == 0


def test_external_ddl_mysql_rename(sess):
    sess.execute(MYSQL_CREATE)
    sess.execute("EXTERNAL DDL FROM MySQL('h:3306','shop','orders','u','p') "
                 "RENAME TABLE orders TO orders2")
    assert sess.execute("EXISTS TABLE orders2").collect()[0][0] == 1


def test_external_ddl_targets_source_database(sess):
    sess.execute("CREATE DATABASE shop")
    sess.execute(MYSQL_CREATE)
    # with a catalog db matching the MySQL source db, the replayed DDL
    # lands there, not in the current database
    assert sess.execute("EXISTS TABLE shop.orders").collect()[0][0] == 1


def test_external_ddl_unknown_source_raises(sess):
    with pytest.raises(Exception, match="not supported"):
        sess.execute("EXTERNAL DDL FROM Postgres('h','d','t','u','p') "
                     "DROP TABLE x")


# --- bucketed tables: co-located joins without a shuffle --------------------

def test_bucketed_tables_join_without_exchange(sess, spark):
    sess.execute("CREATE TABLE ba (k UInt64, v UInt64) "
                 "ENGINE = MergeTree ORDER BY k SETTINGS buckets = 4")
    sess.execute("CREATE TABLE bb (k UInt64, w UInt64) "
                 "ENGINE = MergeTree ORDER BY k SETTINGS buckets = 4")
    sess.execute("INSERT INTO ba SELECT number AS k, number * 2 AS v "
                 "FROM numbers(10000)")
    sess.execute("INSERT INTO bb SELECT number AS k, number * 3 AS w "
                 "FROM numbers(10000)")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = sess.execute(
            "SELECT count() AS c FROM ba INNER JOIN bb USING (k)")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # both scans carry bucketing metadata; the equi-join on the
        # bucket column plans with no hash-partitioning shuffle (the
        # only Exchange is the global count's SinglePartition)
        assert plan.count("Bucketed: true") == 2
        assert "Exchange hashpartitioning" not in plan
        assert df.collect()[0].c == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_table_lifecycle(sess, spark):
    sess.execute("CREATE TABLE bt (k UInt64, v String) "
                 "ENGINE = MergeTree ORDER BY k "
                 "SETTINGS buckets = 2, bucket_by = 'k'")
    # empty read before any insert
    assert sess.execute("SELECT count() AS c FROM bt").collect()[0].c == 0
    sess.execute("INSERT INTO bt VALUES (1, 'a'), (2, 'b')")
    sess.execute("INSERT INTO bt VALUES (3, 'c')")          # append
    assert sess.execute("SELECT count() AS c FROM bt").collect()[0].c == 3
    sess.execute("RENAME TABLE bt TO bt2")
    assert sess.execute("SELECT count() AS c FROM bt2").collect()[0].c == 3
    sess.execute("TRUNCATE TABLE bt2")
    assert sess.execute("SELECT count() AS c FROM bt2").collect()[0].c == 0
    meta = sess._resolve(None, "bt2")
    cat = sess._catalog_name(meta)
    sess.execute("DROP TABLE bt2")
    # this table's session-catalog entry is gone too
    assert not spark.catalog.tableExists(cat)

    # OPTIMIZE FINAL and an ALTER mutation replace a bucketed table
    # through the one rewrite path; the bucketing metadata survives
    def catalog_tables():
        return {t.name for t in spark.catalog.listTables()}

    before = catalog_tables()
    sess.execute("CREATE TABLE br (k UInt64, v String, ver UInt32) "
                 "ENGINE = ReplacingMergeTree(ver) ORDER BY k "
                 "SETTINGS buckets = 4")
    sess.execute("INSERT INTO br VALUES (1, 'a', 1), (2, 'b', 1), "
                 "(3, 'c', 1), (1, 'a2', 2), (2, 'b2', 2)")

    def rows_and_plan():
        rows = [tuple(r) for r in sess.execute(
            "SELECT k, v FROM br ORDER BY k").collect()]
        # an aggregate on the bucket column keeps the bucketed scan
        plan = sess.execute("SELECT k, count() AS c FROM br GROUP BY k"
                            )._jdf.queryExecution().executedPlan()
        return rows, plan.toString()

    sess.execute("OPTIMIZE TABLE br FINAL")
    rows, plan = rows_and_plan()
    assert rows == [(1, "a2"), (2, "b2"), (3, "c")]
    assert "Bucketed: true" in plan
    sess.execute("ALTER TABLE br UPDATE v = 'z' WHERE k = 2")
    rows, plan = rows_and_plan()
    assert rows == [(1, "a2"), (2, "z"), (3, "c")]
    assert "Bucketed: true" in plan
    # the sibling directory and its catalog entry are gone
    meta = sess._resolve(None, "br")
    assert not os.path.exists(meta.path + ".alter")
    assert catalog_tables() - before == {sess._catalog_name(meta)}


# --- Nested type (DataTypeNested.cpp / NestedUtils.cpp; SURVEY §1.2) --------

def test_nested_type_flattening_and_array_join(sess):
    sess.execute("CREATE TABLE vis (id UInt32, "
                 "g Nested(url String, hits UInt32)) "
                 "ENGINE = MergeTree ORDER BY id")
    cols = {r.name: r.type for r in sess.execute(
        "SELECT name, type FROM system.columns WHERE table = 'vis'"
    ).collect()}
    assert cols["g.url"] == "Array(String)"
    assert cols["g.hits"] == "Array(UInt32)"
    sess.execute("INSERT INTO vis VALUES (1, ['a','b'], [10, 20]), "
                 "(2, [], [])")
    # ARRAY JOIN on the nested prefix unnests every g.* in lockstep
    rows = [tuple(r) for r in sess.execute(
        "SELECT id, g.url, g.hits FROM vis ARRAY JOIN g "
        "ORDER BY id, g.url").collect()]
    assert rows == [(1, "a", 10), (1, "b", 20)]
    # LEFT ARRAY JOIN keeps the empty-array row
    assert sess.execute("SELECT count() AS c FROM vis LEFT ARRAY JOIN g"
                        ).collect()[0].c == 3
    # flattened columns select/aggregate like any column
    assert sess.execute("SELECT sum(g.hits) AS s FROM vis ARRAY JOIN g"
                        ).collect()[0].s == 30
    out = sess.execute("SELECT * FROM vis ORDER BY id").collect()
    assert out[0]["g.url"] == ["a", "b"] and out[1]["g.hits"] == []


def test_ttl_purged_on_optimize(sess):
    sess.execute("CREATE TABLE ev (d DateTime, v Int64) "
                 "ENGINE = MergeTree ORDER BY v "
                 "TTL d + INTERVAL 30 DAY")
    sess.execute("INSERT INTO ev VALUES ('2020-01-01 00:00:00', 1), "
                 "('2099-01-01 00:00:00', 2)")
    # both rows present until a merge runs (CH TTL-on-merge semantics)
    assert sess.execute("SELECT count() AS c FROM ev").collect()[0].c == 2
    sess.execute("OPTIMIZE TABLE ev FINAL")
    rows = sess.execute("SELECT v FROM ev").collect()
    # the 2020 row's TTL (2020-01-31) has passed; the 2099 row survives
    assert [r.v for r in rows] == [2]


def test_system_query_log_and_parts(sess):
    sess.execute("CREATE TABLE ql (x Int64) ENGINE = MergeTree ORDER BY x")
    sess.execute("INSERT INTO ql VALUES (1), (2), (3)")
    with pytest.raises(Exception):
        sess.execute("SELECT nonsense FROM nowhere")
    log = sess.execute(
        "SELECT query, type FROM system.query_log ORDER BY event_time"
    ).collect()
    assert any("CREATE TABLE ql" in r.query and r.type == "QueryFinish"
               for r in log)
    assert any(r.type == "ExceptionWhileProcessing" for r in log)
    parts = sess.execute(
        "SELECT table, rows, bytes_on_disk FROM system.parts "
        "WHERE table = 'ql'").collect()
    assert sum(r.rows for r in parts) == 3
    assert all(r.bytes_on_disk > 0 for r in parts)


def test_one_part_per_insert_and_optimize(sess):
    """Each INSERT block writes one part, as CH does, whether its VALUES
    are literals, expressions or inline FORMAT data; OPTIMIZE FINAL of a
    small table leaves one part."""
    sess.execute("CREATE TABLE op (k Int64, v Float64, ver UInt32) "
                 "ENGINE = ReplacingMergeTree(ver) ORDER BY k")

    def parts():
        return sess.execute("SELECT rows FROM system.parts "
                            "WHERE table = 'op'").collect()

    lits = ", ".join(f"({k}, {k}.5, 1)" for k in range(40))
    sess.execute(f"INSERT INTO op VALUES {lits}")
    assert len(parts()) == 1
    exprs = ", ".join(f"({k}, {k} * 2, 2)" for k in range(0, 40, 2))
    sess.execute(f"INSERT INTO op VALUES {exprs}")
    assert len(parts()) == 2
    sess.execute('INSERT INTO op FORMAT JSONEachRow {"k": 1, "v": 0.5, '
                 '"ver": 3} {"k": 3, "v": 1.5, "ver": 3}')
    assert len(parts()) == 3
    sess.execute("OPTIMIZE TABLE op FINAL")
    assert [r.rows for r in parts()] == [40]
    got = {r.k: (r.v, r.ver) for r in
           sess.execute("SELECT k, v, ver FROM op").collect()}
    assert got[0] == (0.0, 2) and got[1] == (0.5, 3) and got[39] == (39.5, 1)


def test_optimize_leaves_no_cache_entry(sess, spark):
    """OPTIMIZE replaces a table without caching a copy, on MergeTree and
    Memory tables alike."""
    spark.catalog.clearCache()
    for name, engine, kept in (
            ("oc_rmt", "ReplacingMergeTree(ver) ORDER BY k", 2),
            ("oc_mem", "Memory", 3)):
        sess.execute(f"CREATE TABLE {name} (k Int64, ver UInt32) "
                     f"ENGINE = {engine}")
        sess.execute(f"INSERT INTO {name} VALUES (1, 1), (1, 2), (2, 1)")
        sess.execute(f"OPTIMIZE TABLE {name} FINAL")
        assert sess.execute(f"SELECT count() AS c FROM {name}"
                            ).collect()[0].c == kept
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_repeated_ingest_cycle_compiles_nothing(sess, spark):
    """A repeated statement cycle reuses the classes Spark generated for
    it the first time: the second cycle makes no Janino compile."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    sess.execute("CREATE TABLE cg (k Int64, v Float64, ver UInt32) "
                 "ENGINE = ReplacingMergeTree(ver) ORDER BY k")
    rows = ", ".join(f"({k}, {k}.5, {k % 3})" for k in range(40))

    def cycle():
        sess.execute("TRUNCATE TABLE cg")
        sess.execute("INSERT INTO cg SELECT number AS k, number * 0.5 AS v, "
                     "0 AS ver FROM numbers(100)")
        sess.execute(f"INSERT INTO cg VALUES {rows}")
        sess.execute("SELECT intDiv(k, 10) AS b, count() AS n, max(ver) AS "
                     "ver FROM cg FINAL GROUP BY b ORDER BY b").toArrow()
        sess.execute("OPTIMIZE TABLE cg FINAL")
        return sess.execute("SELECT sum(v) AS s FROM cg").collect()[0].s

    first = cycle()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    assert cycle() == first
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before


def test_merge_table_function_and_null_engine(sess):
    sess.execute("CREATE TABLE log_a (x Int64) ENGINE = Memory")
    sess.execute("CREATE TABLE log_b (x Int64) ENGINE = Memory")
    sess.execute("CREATE TABLE other (x Int64) ENGINE = Memory")
    sess.execute("INSERT INTO log_a VALUES (1), (2)")
    sess.execute("INSERT INTO log_b VALUES (3)")
    sess.execute("INSERT INTO other VALUES (99)")
    got = sorted(r.x for r in sess.execute(
        "SELECT x FROM merge('^log_')").collect())
    assert got == [1, 2, 3]
    assert sess.execute("SELECT sum(x) AS s FROM merge('default', '^log_')"
                        ).collect()[0].s == 6
    # Null engine: inserts accepted and discarded
    sess.execute("CREATE TABLE sink (x Int64) ENGINE = Null")
    sess.execute("INSERT INTO sink VALUES (1), (2)")
    assert sess.execute("SELECT count() AS c FROM sink").collect()[0].c == 0


def test_default_expressions_fill_partial_insert(spark, tmp_path):
    """Omitted INSERT columns take their declared DEFAULT expression —
    including defaults referencing supplied columns — not the bare
    type default."""
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE dflt (a Int32, b String DEFAULT 'none', "
                 "c Int32 DEFAULT a * 2) ENGINE = Memory")
    sess.execute("INSERT INTO dflt (a) VALUES (5), (7)")
    rows = sorted(tuple(r) for r in
                  sess.execute("SELECT a, b, c FROM dflt").collect())
    assert rows == [(5, 'none', 10), (7, 'none', 14)]


def test_materialized_column_semantics(spark, tmp_path):
    """MATERIALIZED columns are computed at insert, excluded from the
    implicit INSERT column list and from SELECT *, selectable by
    name, and rejected as explicit INSERT targets."""
    import pytest
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE matc (a Int32, m Int32 MATERIALIZED "
                 "a + 1) ENGINE = Memory")
    sess.execute("INSERT INTO matc VALUES (10)")   # one value: a only
    star = sess.execute("SELECT * FROM matc").collect()
    assert [tuple(r) for r in star] == [(10,)]
    both = sess.execute("SELECT a, m FROM matc").collect()
    assert [tuple(r) for r in both] == [(10, 11)]
    with pytest.raises(Exception, match="MATERIALIZED"):
        sess.execute("INSERT INTO matc (m) VALUES (1)")


def test_describe_ch_shape(spark, tmp_path):
    """DESCRIBE emits the CH 7-column shape with default/comment/codec
    attributes rendered and empty strings elsewhere."""
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE dsh (id UInt64, v Float64 DEFAULT 0 "
                 "COMMENT 'val' CODEC(ZSTD(3)), m Int32 MATERIALIZED "
                 "id + 1) ENGINE = MergeTree ORDER BY id")
    rows = sess.execute("DESCRIBE dsh").collect()
    assert rows[0].asDict() == {
        "name": "id", "type": "UInt64", "default_type": "",
        "default_expression": "", "comment": "", "codec_expression": "",
        "ttl_expression": ""}
    assert (rows[1].default_type, rows[1].comment) == ("DEFAULT", "val")
    assert rows[1].codec_expression != ""
    assert rows[2].default_type == "MATERIALIZED"
    assert "id" in rows[2].default_expression


def test_alias_column_hidden_and_selectable(spark, tmp_path):
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE alc (a Int32, twice Int32 ALIAS a * 2) "
                 "ENGINE = Memory")
    sess.execute("INSERT INTO alc VALUES (4)")
    assert [tuple(r) for r in
            sess.execute("SELECT * FROM alc").collect()] == [(4,)]
    assert [tuple(r) for r in
            sess.execute("SELECT twice FROM alc").collect()] == [(8,)]


def test_summing_tuple_column_list(spark, tmp_path):
    """SummingMergeTree((q)) — the docs' tuple form — sums ONLY the
    listed columns; unlisted numeric columns keep an existing value
    (never a sum)."""
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE s_tup (k Int32, q Int64, w Int64) "
                 "ENGINE = SummingMergeTree((q)) ORDER BY k")
    sess.execute("INSERT INTO s_tup VALUES (1, 5, 100), (1, 7, 200)")
    row = sess.execute("SELECT k, q, w FROM s_tup FINAL").collect()[0]
    assert (row.k, row.q) == (1, 12)
    assert row.w in (100, 200)


def test_ephemeral_column_semantics(spark, tmp_path):
    """EPHEMERAL columns (docs create/table#ephemeral; parser surface
    ParserCreateQuery.h:205-215): INSERT-time inputs visible to DEFAULT
    expressions, never stored, not in SELECT *, not selectable,
    shown by DESCRIBE with default_type EPHEMERAL."""
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE eph (id Int32, unhexed String "
                 "EPHEMERAL '0', hexed String DEFAULT unhex(unhexed)) "
                 "ENGINE = Memory")
    sess.execute("INSERT INTO eph (id, unhexed) VALUES (1, '5a90b714')")
    row = sess.execute("SELECT id, hex(hexed) AS h FROM eph").collect()[0]
    assert (row.id, row.h) == (1, '5A90B714')
    assert sess.execute("SELECT * FROM eph").columns == ["id", "hexed"]
    with pytest.raises(Exception):
        sess.execute("SELECT unhexed FROM eph").collect()
    desc = {r.name: r.default_type
            for r in sess.execute("DESCRIBE eph").collect()}
    assert desc["unhexed"] == "EPHEMERAL"
    # bare EPHEMERAL (no expr) takes the type default when omitted
    sess.execute("CREATE TABLE eph2 (id Int32, tag String EPHEMERAL, "
                 "t2 String DEFAULT concat(tag, '!')) ENGINE = Memory")
    sess.execute("INSERT INTO eph2 (id) VALUES (7)")
    assert sess.execute("SELECT t2 FROM eph2").collect()[0].t2 == "!"


def test_alter_add_column_default_applies_to_new_inserts(spark, tmp_path):
    """ALTER ADD COLUMN ... DEFAULT backfills existing rows from the
    current expression AND fills the column on later partial INSERTs;
    COMMENT COLUMN reaches DESCRIBE."""
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE alt_d (a Int64, b Int64) ENGINE = Memory")
    sess.execute("INSERT INTO alt_d VALUES (1, 10), (2, 20)")
    sess.execute("ALTER TABLE alt_d ADD COLUMN c Int64 DEFAULT a * 100")
    assert sorted(tuple(r) for r in sess.execute(
        "SELECT a, c FROM alt_d").collect()) == [(1, 100), (2, 200)]
    sess.execute("INSERT INTO alt_d (a, b) VALUES (3, 30)")
    assert sess.execute(
        "SELECT c FROM alt_d WHERE a = 3").collect()[0].c == 300
    sess.execute("ALTER TABLE alt_d COMMENT COLUMN a 'the key'")
    desc = {r.name: (r.default_type, r.comment) for r in
            sess.execute("DESCRIBE alt_d").collect()}
    assert desc["c"][0] == "DEFAULT" and desc["a"][1] == "the key"


def test_materialized_view_to_target_summing(spark, tmp_path):
    """The canonical CH pattern: MV TO a SummingMergeTree target —
    per-block partial aggregates accumulate, FINAL collapses them."""
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE ev (k Int32, v Int64) ENGINE = Memory")
    sess.execute("CREATE TABLE agg (k Int32, total Int64) "
                 "ENGINE = SummingMergeTree() ORDER BY k")
    sess.execute("CREATE MATERIALIZED VIEW mv_agg TO agg AS "
                 "SELECT k, sum(v) AS total FROM ev GROUP BY k")
    sess.execute("INSERT INTO ev VALUES (1, 10), (1, 5), (2, 7)")
    sess.execute("INSERT INTO ev VALUES (1, 3)")
    got = {r.k: r.total for r in sess.execute(
        "SELECT k, total FROM agg FINAL ORDER BY k").collect()}
    assert got == {1: 18, 2: 7}
    # the view name reads from the target table
    assert sess.execute(
        "SELECT count() AS c FROM mv_agg").collect()[0].c >= 2


def test_show_create_renders_column_attributes(spark, tmp_path):
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE scr (a Int32, b String DEFAULT 'x', "
                 "m Int32 MATERIALIZED a + 1, e String EPHEMERAL) "
                 "ENGINE = MergeTree ORDER BY a")
    stmt = sess.execute("SHOW CREATE TABLE scr").collect()[0].statement
    assert "`b` String DEFAULT 'x'" in stmt
    assert "`m` Int32 MATERIALIZED" in stmt and "plus(a, 1)" in stmt
    assert "`e` String EPHEMERAL" in stmt
