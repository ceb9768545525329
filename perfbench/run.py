#!/usr/bin/env python3
"""End-to-end benchmark of the ClickHouse-SQL engine at sf0.1.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

One closed-loop client sends ClickHouse SQL text to ``ChSession.execute``
and fetches every result in full as Arrow. The run generates its input
tables from the seed, checks every result, warms up for two rounds,
then measures whole rounds for at least ``--seconds``. Statements are
timed in CPU seconds of the engine's processes as well as in wall time;
the end-to-end figures use the CPU time, which another tenant's load on
the host moves far less than wall time. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are per-layer figures from
``layers.py``. Everything the run writes lives under ``.perfbench_tmp/``
in the checkout and is removed at exit; traced runs also keep their spans
in ``.perfbench_traces/``. See README.md for what each workload is for.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

import inputs
from digests import Oracle, digest
from workloads import INGEST_DDL, TABLES, make_pool

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lookup", "analytic", "ingest_dedup")
CPUS = 4                  # local[N]; capped by the cores this process may use
DRIVER_MEM = "2g"
# Warm-up runs WARM_ROUNDS whole rounds. Round times keep falling for
# many rounds (JIT); two are what the run-time budget allows, and every
# run does the same two, so runs stay comparable.
WARM_ROUNDS = 2
# A run measures whole rounds for at least --seconds and at least
# MIN_ROUNDS rounds, so the sample count has a floor whatever the speed;
# at --seconds 10 a run measures exactly MIN_ROUNDS rounds on this engine.
MIN_ROUNDS = {"lookup": 3, "analytic": 3, "ingest_dedup": 2}
# Percentile reported as stmt_cpu_tail_ms: the highest that leaves at
# least 10 samples above it at the MIN_ROUNDS floor (9, 9 and 11
# statements per round).
TAIL_PCT = {"lookup": 60, "analytic": 60, "ingest_dedup": 54}


def process_start() -> float:
    """This process's start time on the ``time.time()`` clock."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(run_dir: str) -> dict:
    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={run_dir}/spark-warehouse",
            # a fixed set of JIT compiler threads, so CpuClock sees
            # all of their CPU time (the JVM otherwise ends idle ones)
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} "
            "-XX:-UseDynamicNumberOfCompilerThreads'",
            "pyspark-shell"]),
    })
    tempfile.tempdir = tmp
    return {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cpus,
            "driver_mem": DRIVER_MEM}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    return (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + hwm_kb) / 1024


class CpuClock:
    """CPU seconds spent by the engine: this Python process, the JVM and
    the Python worker processes the JVM forks (for Python-side RDDs and
    pandas UDFs), minus the JVM's JIT compiler threads. Compilation is
    warm-up work that a long-lived session stops paying, and it is what
    still falls fastest after the warm-up, so leaving it out keeps runs
    comparable. Unlike wall time, CPU time does not count the waits that
    a busy host adds to every Python/JVM round trip."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jvm_clock = (~jvm_pid << 3) | 2    # CPUCLOCK_SCHED of the JVM
        self.tick = os.sysconf("SC_CLK_TCK")
        self.is_jit: dict[str, bool] = {}
        self.jit_seen: dict[str, int] = {}      # tid -> ns at last look
        self.jit_ns = 0

    def jit_s(self) -> float:
        """CPU seconds the JVM's compiler threads have used since the first
        call, added up per thread from what each used since the last
        look, so a thread that ends loses only its last few ms."""
        task_dir = f"/proc/{self.jvm_pid}/task"
        seen = {}
        for tid in os.listdir(task_dir):
            try:
                if tid not in self.is_jit:
                    with open(f"{task_dir}/{tid}/comm") as fh:
                        self.is_jit[tid] = "CompilerThre" in fh.read()
                if self.is_jit[tid]:
                    with open(f"{task_dir}/{tid}/schedstat") as fh:
                        seen[tid] = int(fh.read().split()[0])
            except OSError:     # the thread ended meanwhile
                continue
        self.jit_ns += sum(ns - self.jit_seen.get(tid, 0)
                           for tid, ns in seen.items())
        self.jit_seen = seen
        return self.jit_ns / 1e9

    def workers_s(self) -> float:
        """CPU seconds of the JVM's child processes and theirs."""
        children: dict[int, list[int]] = {}
        stats = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(name)] = sum(int(f) for f in fields[11:15])
            children.setdefault(int(fields[1]), []).append(int(name))
        total, todo = 0, list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            total += stats[pid]
            todo.extend(children.get(pid, []))
        return total / self.tick

    def start(self) -> float:
        jit, workers = self.jit_s(), self.workers_s()
        jvm = time.clock_gettime(self.jvm_clock)
        return time.process_time() + jvm + workers - jit

    def stop(self) -> float:
        py = time.process_time()
        jvm = time.clock_gettime(self.jvm_clock)
        return py + jvm + self.workers_s() - self.jit_s()


def steal_s() -> float:
    """Host-wide CPU time stolen from this VM so far (all cores)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ranked = sorted(values)
    return ranked[max(0, -(-len(ranked) * pct // 100) - 1)]


class Client:
    """The single client: sends statements, times them, checks results."""

    def __init__(self, session, expected: dict[str, str], clock: CpuClock):
        self.session = session
        self.expected = expected          # sql -> digest (DuckDB or first run)
        self.clock = clock
        self.tracer = None
        self.failures: list[str] = []

    def send(self, stmt) -> tuple[float, float] | None:
        """Run one statement; return its wall and CPU seconds, or None if
        it failed or returned a wrong result."""
        c0 = self.clock.start()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                table = self.tracer.run(self.session, stmt.kind, stmt.sql)
            else:
                table = self.session.execute(stmt.sql).toArrow()
        except Exception as exc:  # a failed statement is a result
            self.failures.append(f"{stmt.kind}: {exc!r}"[:300])
            return None
        elapsed = time.perf_counter() - t0
        cpu = self.clock.stop() - c0
        got = digest(table)
        want = self.expected.setdefault(stmt.sql, got)
        if got != want:
            self.failures.append(f"{stmt.kind}: wrong result")
            return None
        return elapsed, cpu


def run_round(client: Client, rnd, samples: list | None = None) -> float:
    t0 = time.perf_counter()
    for stmt in rnd:
        cost = client.send(stmt)
        if samples is not None:
            samples.append((stmt.kind, cost))
    return time.perf_counter() - t0


def start_session(workload: str, run_dir: str, data_dir: str):
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.ddl import ChSession
    from clickhouse_from_scratch_spark.session import get_spark

    spark = get_spark("perfbench")
    session = ChSession(spark, warehouse=os.path.join(run_dir, "warehouse"))
    for name in TABLES[workload]:
        # events doubles as a ReplacingMergeTree for FROM events FINAL
        extra = ({"order_by": ["user_id"], "version": "ts"}
                 if name == "events" else {})
        session.register_external(name, load_table(spark, data_dir, name),
                                  **extra)
    if workload == "ingest_dedup":
        for sql in INGEST_DDL:
            session.execute(sql)
    return spark, session


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def storage_amp(workload: str, session, data_dir: str, tables) -> float:
    """Bytes on disk per Arrow byte of the live rows: for ingest_dedup the
    warehouse after the last cycle; for the read workloads the input
    parquet files."""
    if workload == "ingest_dedup":
        live = sum(session.execute(f"SELECT * FROM {t}").toArrow().nbytes
                   for t in ("li_rmt", "docs"))
        return dir_bytes(session.warehouse) / live
    names = TABLES[workload]
    return (sum(os.path.getsize(os.path.join(data_dir, f"{n}.parquet"))
                for n in names)
            / sum(tables[n].nbytes for n in names))


def bench(args, run_dir: str, t_start: float) -> dict:
    env = pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    import pyspark

    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    tables = inputs.write_tables(args.seed, data_dir)
    pool = make_pool(args.workload, args.seed)

    oracle = Oracle(data_dir, TABLES[args.workload])
    expected = {s.sql: oracle.digest(s.oracle)
                for rnd in pool for s in rnd if s.oracle}
    oracle.close()
    print(f"# inputs and expected digests: {time.time() - t_start:.1f} s",
          file=sys.stderr)

    spark, session = start_session(args.workload, run_dir, data_dir)
    print(f"# session up: {time.time() - t_start:.1f} s", file=sys.stderr)
    try:
        env.update({"seed": args.seed, "workload": args.workload,
                    "spark": pyspark.__version__,
                    "java": spark.sparkContext._jvm.System.getProperty(
                        "java.version"),
                    "python": sys.version.split()[0]})
        print("# env " + json.dumps(env), flush=True)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        client = Client(session, expected, CpuClock(jvm_pid))

        warm_times = [run_round(client, pool[i % len(pool)])
                      for i in range(WARM_ROUNDS)]
        print(f"# warm-up rounds: {[round(t, 2) for t in warm_times]} s",
              file=sys.stderr, flush=True)

        tracer = None
        if args.trace:
            from layers import Tracer
            tracer = Tracer(spark)
            tracer.install()
            client.tracer = tracer

        samples: list[tuple[str, tuple[float, float] | None]] = []
        setup_s = time.time() - t_start
        steal0, jit0 = steal_s(), client.clock.jit_s()
        measure_t0 = time.perf_counter()
        rounds = []
        i = WARM_ROUNDS
        while (time.perf_counter() - measure_t0 < args.seconds
               or len(rounds) < MIN_ROUNDS[args.workload]):
            rounds.append(run_round(client, pool[i % len(pool)], samples))
            i += 1
        print(f"# measured rounds: {[round(t, 2) for t in rounds]} s; "
              f"JIT {client.clock.jit_s() - jit0:.2f} CPU s, host steal "
              f"{steal_s() - steal0:.2f} s", file=sys.stderr)
        if tracer is not None:
            tracer.uninstall()
            client.tracer = None

        amp = storage_amp(args.workload, session, data_dir, tables)
        rss = peak_rss_mb(jvm_pid)
    finally:
        stop_spark(spark)

    per_round = len(pool[0])
    failed = sum(1 for _, cost in samples if cost is None)
    for line in client.failures:
        print(f"# FAILED {line}", file=sys.stderr)
    if failed == len(samples):
        raise RuntimeError("every measured statement failed")
    print(f"# samples={len(samples)} failed_frac={failed / len(samples):.4f}",
          file=sys.stderr)

    # Whole rounds give every statement class the same share in every
    # run. Each figure replaces every sample by its class median, then
    # averages (the typical statement) or takes the workload's tail
    # percentile (the slow classes); stmts_per_s divides a round's
    # statements by the median round's summed wall time. None of them
    # jumps with which class straddles a pooled percentile or with one
    # slow round.
    def class_figures(which: int) -> tuple[float, float]:
        by_kind: dict[str, list[float]] = {}
        for kind, cost in samples:
            if cost is not None:
                by_kind.setdefault(kind, []).append(cost[which] * 1e3)
        p50 = {k: statistics.median(v) for k, v in by_kind.items()}
        typical = [p50[k] for k, cost in samples if cost is not None]
        return (statistics.fmean(typical),
                percentile(typical, TAIL_PCT[args.workload]))

    wall_ms, wall_tail_ms = class_figures(0)
    cpu_ms, cpu_tail_ms = class_figures(1)
    busy = [sum(cost[0] for _, cost in samples[r * per_round:
                                               (r + 1) * per_round]
                if cost is not None)
            for r in range(len(samples) // per_round)]
    stmts_per_s = per_round / statistics.median(busy)
    print(f"# wall: latency_p50_ms={wall_ms:.1f} latency_tail_ms="
          f"{wall_tail_ms:.1f} stmts_per_s={stmts_per_s:.3f}; cpu: "
          f"stmt_cpu_ms={cpu_ms:.1f} stmt_cpu_tail_ms={cpu_tail_ms:.1f}",
          file=sys.stderr)

    def m(value, unit):
        return {"value": value, "unit": unit}

    if tracer is None:
        metrics = {
            "setup_s": m(setup_s, "s"),
            "stmt_cpu_ms": m(cpu_ms, "ms"),
            "stmt_cpu_tail_ms": m(cpu_tail_ms, "ms"),
            "peak_rss_mb": m(rss, "MB"),
            "storage_amp": m(amp, "ratio"),
        }
    else:
        metrics = layer_metrics(tracer)
        metrics["trace.latency_p50_ms"] = m(wall_ms, "ms")
        metrics["trace.stmts_per_s"] = m(stmts_per_s, "1/s")
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        tracer.dump(os.path.join(
            ROOT, ".perfbench_traces",
            f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
    return {"correct": not client.failures, "attempted": len(samples),
            "failed": failed, "metrics": metrics}


LAYER_UNITS = {
    "plans.parse_ms": "ms", "plans.build_ms": "ms", "plans.py4j_calls": "count",
    "ddl.session_ms": "ms", "ddl.insert_ms": "ms", "ddl.optimize_ms": "ms",
    "sources.read_ms": "ms", "pipeline.build_ms": "ms",
    "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_mb": "MB",
    "deliver.collect_ms": "ms", "deliver.result_bytes": "bytes",
}


def layer_metrics(tracer) -> dict:
    """Each layer figure as a mean per statement in which the layer ran;
    0 where it never ran in this workload."""
    out = {}
    for key, unit in LAYER_UNITS.items():
        vals = [s.layers[key] for s in tracer.stmts if key in s.layers]
        out[key] = {"value": statistics.fmean(vals) if vals else 0.0,
                    "unit": unit}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = process_start()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "clickhouse_from_scratch_spark")):
        print("perfbench: engine package not found next to perfbench/",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_tmp",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = bench(args, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
