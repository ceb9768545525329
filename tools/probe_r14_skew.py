#!/usr/bin/env python
"""Skew fixture for the bounded-bucket banding kernel.

Fixture: one hot LSH bucket — N identical documents (every band hash
collides) over a base of distinct documents. Measures, for the OLD
unbounded collect_set spelling vs ``minhash_lsh_candidates``
(row_number-capped buckets):
  - wall time of the candidate-pair count
  - per-stage max task duration vs median (straggler factor)
  - per-stage peak execution memory (the aggregation buffer the old
    kernel grows without bound)

Usage: python tools/probe_r14_skew.py [n_hot] [n_base] [cap]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def rest(url: str):
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def stage_stats(spark, ui_port: int, job_group_stages: set[int]):
    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:{ui_port}/api/v1/applications/{app_id}"
    out = []
    for st in rest(f"{base}/stages?status=complete"):
        if st["stageId"] not in job_group_stages:
            continue
        sid, att = st["stageId"], st["attemptId"]
        try:
            summ = rest(f"{base}/stages/{sid}/{att}/taskSummary"
                        "?quantiles=0.0,0.5,1.0")
        except Exception:
            continue
        out.append({
            "stage": sid,
            "name": st["name"].split("\n")[0][:60],
            "tasks": st["numCompleteTasks"],
            "dur_med_ms": summ["duration"][1],
            "dur_max_ms": summ["duration"][2],
            "peak_mem_max": int(summ["peakExecutionMemory"][2]),
            "shuffle_read_max": int(st.get("shuffleReadBytes", 0)),
        })
    return out


def main() -> None:
    n_hot = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    cap = int(sys.argv[3]) if len(sys.argv) > 3 else 1000
    ui_port = 4055

    spark = (SparkSession.builder.master("local[16]")
             .appName("probe_r14_skew")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "true")
             .config("spark.ui.port", str(ui_port))
             .config("spark.driver.memory", "16g")
             .config("spark.sql.ansi.enabled", "false")
             .config("spark.sql.optimizer.windowGroupLimitThreshold",
                     str(1 << 20))
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from clickhouse_from_scratch_spark.pipeline.dedup import (
        minhash_lsh_candidates, minhash_signatures)
    from tools.probe_r14_buckets import old_buckets, old_pairs

    # hot docs: identical boilerplate; base docs: unique tail keeps the
    # rest of the corpus realistic (distinct buckets)
    docs = (spark.range(n_hot + n_base)
            .select(F.col("id").alias("doc_id"),
                    F.when(F.col("id") < n_hot,
                           F.lit("the quick brown fox jumps over the lazy "
                                 "dog again and again and again"))
                    .otherwise(F.concat(
                        F.lit("unique document body number "),
                        F.col("id").cast("string"),
                        F.lit(" with some filler words appended here")))
                    .alias("text")))

    r, bands = 4, 16
    args = ", ".join(f"signature[b*{r}+{i}]" for i in range(r))
    banded = minhash_signatures(docs.select("doc_id", "text")).selectExpr(
        "`doc_id`",
        f"inline(transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'bucket', xxhash64(b, {args}))))")

    # warm the JVM/codegen on the shared signature pipeline so run order
    # does not contaminate the A/B (first pass pays JIT compilation)
    banded.count()

    results = {}
    for label, build in [
        ("old_unbounded", lambda: old_pairs(
            old_buckets(banded, ["band", "bucket"], "doc_id", cap))),
        ("new_bounded", lambda: minhash_lsh_candidates(
            docs, max_bucket_size=cap)),
    ]:
        tracker = spark.sparkContext.statusTracker()
        before_ids = set(tracker.getJobIdsForGroup() or [])
        spark.sparkContext.setJobDescription(f"skew probe: {label}")
        t0 = time.perf_counter()
        n = build().count()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        after_ids = set(tracker.getJobIdsForGroup() or [])
        stage_ids = set()
        for jid in after_ids - before_ids:
            ji = tracker.getJobInfo(jid)
            if ji:
                stage_ids.update(ji.stageIds)
        stats = stage_stats(spark, ui_port, stage_ids)
        worst = max(stats, key=lambda s: s["peak_mem_max"], default=None)
        strag = max((s["dur_max_ms"] / max(s["dur_med_ms"], 1.0)
                     for s in stats if s["tasks"] > 1), default=1.0)
        results[label] = {"pairs": n, "wall_s": round(wall, 2),
                          "straggler_x": round(strag, 1),
                          "peak_mem_max_mb": round(
                              (worst or {}).get("peak_mem_max", 0) / 2**20),
                          "stages": stats}
        print(f"{label}: {n} pairs in {wall:.2f}s; "
              f"worst straggler {strag:.1f}x; "
              f"max stage peak-exec-mem "
              f"{(worst or {}).get('peak_mem_max', 0)/2**20:.0f} MiB")
        for s in stats:
            print(f"    stage {s['stage']:>3} "
                  f"tasks={s['tasks']:<3} med={s['dur_med_ms']:.0f}ms "
                  f"max={s['dur_max_ms']:.0f}ms "
                  f"peak={s['peak_mem_max']/2**20:.0f}MiB "
                  f"shufread_maxtask={s['shuffle_read_max']/2**20:.1f}MiB")

    assert results["old_unbounded"]["pairs"] == results["new_bounded"]["pairs"]
    print(json.dumps({k: {kk: vv for kk, vv in v.items() if kk != "stages"}
                      for k, v in results.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
