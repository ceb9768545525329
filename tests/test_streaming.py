"""Structured Streaming surface: WINDOW VIEW (tumble/hop) + LIVE VIEW."""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_from_scratch_spark.streaming import (
    LiveView, SessionView, WindowView, hop, stateful_sessionize, tumble,
)

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _event_stream(spark, tmp_path):
    # batch of rows driven through a real file-source streaming query
    rows = [(i, f"2024-01-01 00:{i:02d}:00", i % 3, "click", float(i))
            for i in range(30)]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long,"
                               " event_type string, value double") \
        .withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "stream_src")
    df.write.mode("overwrite").parquet(path)
    return spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double").parquet(path)


def test_window_view_tumble(spark, tmp_path):
    stream = _event_stream(spark, tmp_path)
    wv = WindowView("wv_tumble_test", "ts", tumble("ts", "10 minutes"),
                    keys=["user_id"],
                    aggs=[F.count(F.lit(1)).alias("n"),
                          F.sum("value").alias("total")],
                    watermark="5 minutes")
    q = wv.start(stream, output_mode="append")
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM wv_tumble_test")
        rows = out.collect()
        # 30 minutes of events in 10-min tumbling windows × 3 users;
        # append mode emits only watermark-closed windows
        assert set(out.columns) == {"window_start", "window_end",
                                    "user_id", "n", "total"}
        assert len(rows) >= 6
        assert all(r.n > 0 for r in rows)
    finally:
        q.stop()


def test_window_view_hop(spark, tmp_path):
    stream = _event_stream(spark, tmp_path)
    wv = WindowView("wv_hop_test", "ts",
                    hop("ts", slide="5 minutes", size="10 minutes"),
                    keys=[], aggs=[F.count(F.lit(1)).alias("n")],
                    watermark="0 seconds")
    q = wv.start(stream, output_mode="append")
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM wv_hop_test").collect()
        # hopping windows overlap → each event lands in 2 windows
        assert sum(r.n for r in rows) >= 30
    finally:
        q.stop()


def test_live_view_watch(spark, tmp_path):
    stream = _event_stream(spark, tmp_path)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    lv = LiveView("lv_test")
    q = lv.create(agg)
    try:
        q.processAllAvailable()
        got = lv.watch(spark).collect()
        assert got and got[0].n == 30           # complete-mode current state
        assert lv.watch_events() >= 0           # version heartbeat
    finally:
        lv.stop()


def test_session_view_batch_semantics(spark):
    # session_window works in batch too: two sessions split by a 40-min gap
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 00:50:00"), (2, "2024-01-01 00:00:00")]
    df = (spark.createDataFrame(rows, "user_id long, ts string")
          .withColumn("ts", F.to_timestamp("ts")))
    out = (df.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                      "user_id")
           .agg(F.count(F.lit(1)).alias("n"))
           .select("user_id", F.col("w.start").alias("s"), "n").collect())
    per_user = sorted((r.user_id, r.n) for r in out)
    assert per_user == [(1, 1), (1, 2), (2, 1)]


def test_session_view_streaming(spark, tmp_path):
    stream = _event_stream(spark, tmp_path)
    sv = SessionView("sv_test", "ts", "90 seconds", keys=["user_id"],
                     aggs=[F.count(F.lit(1)).alias("n")],
                     watermark="0 seconds")
    q = sv.start(stream, output_mode="append")
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM sv_test")
        # events per user are 3 min apart > 90s gap → one session per event
        assert set(out.columns) == {"user_id", "n", "session_start",
                                    "session_end"}
    finally:
        q.stop()


def test_stateful_sessionize(spark, tmp_path):
    stream = _event_stream(spark, tmp_path)
    # per-user events are 3 minutes apart; gap 100s closes a session after
    # every event except each user's last (which stays open in state)
    out = stateful_sessionize(stream, gap_seconds=100)
    q = (out.writeStream.outputMode("append")
         .format("memory").queryName("sess_state_test").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sess_state_test").collect()
        assert all(r.n_events == 1 for r in rows)
        assert len(rows) == 27                  # 30 events - 3 open sessions
        span = {(r.session_end.timestamp() - r.session_start.timestamp())
                for r in rows}
        assert span == {100.0}                  # end = last + gap
    finally:
        q.stop()


def test_streaming_exact_dedup(spark, tmp_path):
    from clickhouse_from_scratch_spark.streaming import (
        streaming_exact_dedup, streaming_minhash_signatures,
    )
    rows = [(0, "2024-01-01 00:00:00", "same text"),
            (1, "2024-01-01 00:01:00", "same text"),      # dup within wm
            (2, "2024-01-01 00:02:00", "other text")]
    df = spark.createDataFrame(
        rows, "doc_id long, ts string, text string") \
        .withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "dedup_src")
    df.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string").parquet(path)
    out = streaming_exact_dedup(stream, ts_col="ts", watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT text FROM dedup_out").collect()
        assert sorted(r.text for r in got) == ["other text", "same text"]
    finally:
        q.stop()
    # stateless per-row signatures run on the same stream unchanged
    sigs = streaming_minhash_signatures(stream)
    assert sigs.isStreaming and "signature" in sigs.columns


def test_streaming_minhash_signatures_equal_batch(spark, tmp_path):
    # one MinHash kernel: rows signed on a stream carry exactly the
    # signatures the batch pass (dedupMinHash) computes
    from clickhouse_from_scratch_spark.pipeline import minhash_signatures
    from clickhouse_from_scratch_spark.streaming import (
        streaming_minhash_signatures,
    )
    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, None), (3, ""), (4, "short text")]
    path = str(tmp_path / "mh_src")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema("doc_id long, text string") \
        .parquet(path)
    q = (streaming_minhash_signatures(stream).writeStream.format("memory")
         .queryName("mh_stream_out").outputMode("append").start())
    try:
        q.processAllAvailable()
        streamed = spark.sql(
            "SELECT doc_id, signature FROM mh_stream_out").collect()
    finally:
        q.stop()
    batch = minhash_signatures(spark.read.parquet(path)) \
        .select("doc_id", "signature").collect()
    assert len(streamed) == len(rows)
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_live_view_watch_liveness_rate_source(spark, tmp_path):
    """End-to-end liveness: LIVE VIEW over a rate source → WATCH EVENTS
    heartbeats advance on their own → WATCH snapshots grow →
    INSERT INTO t WATCH lv (snapshot append) makes sink rows advance."""
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "200").load())
    agg = stream.agg(F.count(F.lit(1)).alias("n"))
    lv = LiveView("lv_rate_live", refresh_interval="200 milliseconds")
    q = lv.create(agg)
    sink_path = str(tmp_path / "watch_sink")
    try:
        deadline = time.time() + 90
        v0 = lv.watch_events()
        while lv.watch_events() < v0 + 2 and time.time() < deadline:
            time.sleep(0.3)
        assert lv.watch_events() >= v0 + 2      # heartbeats advance
        snap1 = lv.watch(spark).collect()[0].n
        lv.watch(spark).write.mode("append").parquet(sink_path)
        while time.time() < deadline:
            snap2 = lv.watch(spark).collect()[0].n
            if snap2 > snap1:
                break
            time.sleep(0.3)
        assert snap2 > snap1                    # the view itself advances
        lv.watch(spark).write.mode("append").parquet(sink_path)
        sink = [r.n for r in spark.read.parquet(sink_path).collect()]
        assert len(sink) == 2 and max(sink) > min(sink)   # sink advanced
    finally:
        lv.stop()


def test_window_view_hop_lateness_insert_watch(spark, tmp_path):
    """WATCH feeding INSERT under a hop() WINDOW VIEW with
    ALLOWED_LATENESS (round-4 brief #7): hop windows + watermark
    lateness drive a foreachBatch append sink (the streaming
    ``INSERT INTO t WATCH wv`` shape, ParserInsertQuery.cpp:165-172).

    Late-row contract (Structured Streaming == CH WATERMARK +
    ALLOWED_LATENESS): an out-of-order row ABOVE the watermark is
    aggregated into its still-open windows; a row BELOW the watermark
    is dropped before aggregation and appears in no window."""
    src = str(tmp_path / "wv_late_src")
    sink = str(tmp_path / "wv_late_sink")
    schema = ("event_id long, ts timestamp, user_id long,"
              " event_type string, value double")

    def write_batch(rows, mode):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long,"
                  " event_type string, value double") \
            .withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode(mode).parquet(src)

    # batch 1 — on-time events; max ts 00:24 → watermark 00:19 after it
    write_batch([(1, "2024-01-01 00:01:00", 1, "click", 1.0),
                 (2, "2024-01-01 00:12:00", 1, "click", 2.0),
                 (3, "2024-01-01 00:24:00", 1, "click", 4.0)],
                "overwrite")
    stream = spark.readStream.schema(schema).parquet(src)
    wv = WindowView("wv_lateness_test", "ts",
                    hop("ts", slide="5 minutes", size="10 minutes"),
                    keys=[], aggs=[F.count(F.lit(1)).alias("n")],
                    watermark="0 seconds",
                    allowed_lateness="5 minutes")
    q = (wv.build(stream)
         .writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "wv_late_ckpt"))
         .foreachBatch(lambda b, _id:
                       b.write.mode("append").parquet(sink))
         .start())
    try:
        q.processAllAvailable()
        # batch 2 — one late-but-above-watermark row (00:21 > 00:19),
        # one below-watermark row (00:08 < 00:19, must vanish), and a
        # far-future row to advance the watermark and flush windows
        write_batch([(4, "2024-01-01 00:21:00", 1, "click", 8.0),
                     (5, "2024-01-01 00:08:00", 1, "click", 16.0),
                     (6, "2024-01-01 00:50:00", 1, "click", 32.0)],
                    "append")
        q.processAllAvailable()
    finally:
        q.stop()
    out = {(str(r.window_start)[11:16], str(r.window_end)[11:16]): r.n
           for r in spark.read.parquet(sink).collect()}
    # too-late 00:08 row excluded from its (already-closed) windows
    assert out[("00:00", "00:10")] == 1
    assert out[("00:05", "00:15")] == 1
    # late 00:21 row included in both still-open hop windows
    assert out[("00:15", "00:25")] == 2      # 00:24 + late 00:21
    assert out[("00:20", "00:30")] == 2      # 00:24 + late 00:21
    # each emitted window appended exactly once through the WATCH sink
    assert len(out) == len(
        spark.read.parquet(sink).collect())
