"""LIVE VIEW / WINDOW VIEW / WATCH / INTO OUTFILE through the SQL surface."""

from __future__ import annotations

import os

import pytest

from clickhouse_from_scratch_spark.ddl import ChSession


@pytest.fixture()
def sess(spark, tmp_path):
    s = ChSession(spark, warehouse=str(tmp_path / "wh"))
    s.execute("CREATE TABLE ev (uid Int64, etype String, v Float64) "
              "ENGINE = Memory")
    s.execute("INSERT INTO ev VALUES (1, 'click', 1.0), (1, 'buy', 5.0), "
              "(2, 'click', 2.0)")
    return s


def test_live_view_watch_refreshes(sess):
    sess.execute("CREATE LIVE VIEW lv WITH PERIODIC REFRESH 5 AS "
                 "SELECT etype, count() AS n FROM ev GROUP BY etype")
    got = {r.etype: r.n for r in sess.execute("WATCH lv LIMIT 10").collect()}
    assert got == {"click": 2, "buy": 1}
    # LIVE VIEW reflects new inserts on the next WATCH
    sess.execute("INSERT INTO ev VALUES (3, 'click', 9.0)")
    got2 = {r.etype: r.n for r in sess.execute("WATCH lv").collect()}
    assert got2["click"] == 3
    # WATCH EVENTS = version heartbeat, monotonically increasing
    v1 = sess.execute("WATCH lv EVENTS").collect()[0].version
    v2 = sess.execute("WATCH lv EVENTS").collect()[0].version
    assert v2 == v1 + 1


def test_window_view_to_table(sess):
    sess.execute("CREATE TABLE ts_ev (ts DateTime, k String, v Float64) "
                 "ENGINE = Memory")
    sess.execute("INSERT INTO ts_ev VALUES "
                 "('2024-01-01 00:01:00', 'a', 1.0), "
                 "('2024-01-01 00:02:00', 'a', 2.0), "
                 "('2024-01-01 01:30:00', 'b', 5.0)")
    sess.execute("CREATE TABLE agg_out (ws DateTime, k String, s Float64) "
                 "ENGINE = Memory")
    sess.execute(
        "CREATE WINDOW VIEW wv TO agg_out "
        "WATERMARK = INTERVAL 5 SECOND ALLOWED_LATENESS = INTERVAL 1 MINUTE "
        "AS SELECT tumbleStart(ts, '1 hour') AS ws, k, sum(v) AS s "
        "FROM ts_ev GROUP BY ws, k")
    rows = sess.execute("WATCH wv").collect()
    assert len(rows) == 2
    by_k = {r.k: r.s for r in rows}
    assert by_k == {"a": 3.0, "b": 5.0}
    # TO-table routing materialized the same snapshot
    out = sess.execute("SELECT count() AS n FROM agg_out").collect()[0].n
    assert out == 2


def test_watch_non_view_rejected(sess):
    with pytest.raises(ValueError, match="not a view"):
        sess.execute("WATCH ev")


def test_into_outfile_parquet(sess, tmp_path):
    dest = str(tmp_path / "out.parquet")
    sess.execute(f"SELECT etype, count() AS n FROM ev GROUP BY etype "
                 f"INTO OUTFILE '{dest}' FORMAT Parquet")
    # INTO OUTFILE produces ONE file at the named path (CH ClientBase
    # semantics)
    assert os.path.isfile(dest)
    back = sess.spark.read.parquet(dest)
    assert {r.etype: r.n for r in back.collect()} == {"click": 2, "buy": 1}


def test_into_outfile_csv_with_compression(sess, tmp_path):
    dest = str(tmp_path / "out_csv")
    sess.execute(f"SELECT uid, etype FROM ev INTO OUTFILE '{dest}' "
                 f"COMPRESSION 'gzip' FORMAT CSVWithNames")
    import gzip
    assert os.path.isfile(dest)
    with gzip.open(dest, "rt") as fh:
        assert fh.readline().strip() == '"uid","etype"'


def test_format_pretty(sess):
    lines = [r.output for r in
             sess.execute("SELECT etype FROM ev FORMAT PrettyCompact")
             .collect()]
    text = "\n".join(lines)
    assert "etype" in text and "click" in text and "┌" in text


def test_format_tsv(sess):
    lines = [r.output for r in
             sess.execute("SELECT uid, etype FROM ev ORDER BY uid, etype "
                          "FORMAT TabSeparated").collect()]
    assert lines[0] == "1\tbuy"
