"""Per-layer tracing from outside the engine.

``Tracer.install`` wraps public entry points of the engine's modules so
each call records a span: ``ChSession.execute`` (ddl), the
``parse_statement`` and ``build`` calls ddl makes (plans), every
``sources.read_format`` call, the pipeline dedup kernels the table
functions call, and result delivery. A span records its name, start,
end, parent and the statement it belongs to; py4j round trips are
counted into the innermost open span. A layer's figure for a statement
is the self time of its spans: their duration minus the time their
child spans cover. Spans stay in memory and are
written out once, at exit.

Spark-side numbers come from the driver's own status store: each
statement runs under its own job groups (one for ``execute``, one for
delivery), and after the statement the tracer reads the Catalyst phase
times of the result's ``QueryExecution`` and the stage metrics of every
job in those groups.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import dataclass, field

from py4j.java_gateway import GatewayClient

import clickhouse_from_scratch_spark.ddl as ddl
import clickhouse_from_scratch_spark.pipeline as pipeline
import clickhouse_from_scratch_spark.sources as sources

# pipeline kernels behind the dedupExact / dedupMinHash / dedupSimHash
# table functions
KERNELS = ("exact_dedup", "minhash_lsh_candidates", "simhash_near_dups",
           "simhash_near_dups_hamming")

LAYER_MS = {"plans.parse": "plans.parse_ms", "sources.read": "sources.read_ms",
            "pipeline.kernel": "pipeline.build_ms"}


@dataclass
class Span:
    name: str
    stmt: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class StmtTrace:
    """Per-statement layer figures, filled as the statement runs."""
    kind: str
    layers: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.stmts: list[StmtTrace] = []
        self._undo: list[tuple[object, str, object]] = []

    # --- spans ----------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, len(self.stmts) - 1, parent,
                               time.perf_counter()))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def _close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self.stack.pop()
        if span.parent is not None:
            self.spans[span.parent].children_s += span.dur
        return span

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                self._record(self._close(idx))

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def _count_py4j(self) -> None:
        orig = GatewayClient.send_command

        @functools.wraps(orig)
        def counted(client, *args, **kwargs):
            if self.stack:
                self.spans[self.stack[-1]].py4j += 1
            return orig(client, *args, **kwargs)

        self._undo.append((GatewayClient, "send_command", orig))
        GatewayClient.send_command = counted

    def _record(self, span: Span) -> None:
        """Add a closed span's self time to its layer's figure for the
        current statement."""
        st = self.stmts[-1]
        if span.name == "ddl.execute":
            st.add("ddl.session_ms", span.self_s * 1e3)
            if self.spans[span.parent].name == "stmt":
                if st.kind.startswith("insert"):
                    st.add("ddl.insert_ms", span.dur * 1e3)
                elif st.kind == "optimize":
                    st.add("ddl.optimize_ms", span.dur * 1e3)
        elif span.name == "plans.build":
            st.add("plans.build_ms", span.self_s * 1e3)
            st.add("plans.py4j_calls", span.py4j)
        else:
            st.add(LAYER_MS[span.name], span.self_s * 1e3)

    def install(self) -> None:
        self._wrap(ddl.ChSession, "execute", "ddl.execute")
        self._wrap(ddl, "parse_statement", "plans.parse")
        self._wrap(ddl, "build", "plans.build")
        self._wrap(sources, "read_format", "sources.read")
        for k in KERNELS:
            self._wrap(pipeline, k, "pipeline.kernel")
        self._count_py4j()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # --- one statement ----------------------------------------------------

    def run(self, session, stmt_kind: str, sql: str):
        """Execute and deliver one statement under spans and job groups;
        return the Arrow result."""
        self.stmts.append(StmtTrace(stmt_kind))
        n = len(self.stmts)
        root = self._open("stmt")
        try:
            self.sc.setJobGroup(f"pb{n}e", sql[:64], False)
            df = session.execute(sql)
            self.sc.setJobGroup(f"pb{n}d", sql[:64], False)
            idx = self._open("deliver")
            try:
                table = df.toArrow()
            finally:
                deliver = self._close(idx)
        finally:
            self._close(root)
            self.sc._jsc.clearJobGroup()
        self._spark_side(df, n, deliver.dur)
        self.stmts[-1].add("deliver.result_bytes", table.nbytes)
        return table

    def _spark_side(self, df, n: int, deliver_s: float) -> None:
        st = self.stmts[-1]
        tracker = df._jdf.queryExecution().tracker().phases()
        for phase, key in (("optimization", "catalyst.optimize_ms"),
                           ("planning", "catalyst.plan_ms")):
            opt = tracker.get(phase)
            if opt.isDefined():
                st.add(key, opt.get().durationMs())
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        deliver_jobs_ms = 0.0
        peak = 0
        for group in (f"pb{n}e", f"pb{n}d"):
            for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
                job = store.job(job_id)
                st.add("exec.jobs", 1)
                if group.endswith("d") and job.completionTime().isDefined():
                    deliver_jobs_ms += (job.completionTime().get().getTime()
                                        - job.submissionTime().get().getTime())
                stages = job.stageIds().iterator()
                while stages.hasNext():
                    stage = store.lastStageAttempt(stages.next())
                    if stage.status().toString() == "SKIPPED":
                        continue
                    st.add("exec.stages", 1)
                    st.add("exec.tasks", stage.numTasks())
                    st.add("exec.task_run_ms", stage.executorRunTime())
                    st.add("exec.shuffle_bytes", stage.shuffleWriteBytes())
                    st.add("exec.spill_bytes", stage.diskBytesSpilled())
                    peak = max(peak, stage.peakExecutionMemory())
        st.add("exec.peak_exec_mem_mb", peak / 2 ** 20)
        st.add("deliver.collect_ms", max(0.0, deliver_s * 1e3 - deliver_jobs_ms))

    # --- output -----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"stmts": [{"kind": s.kind, **s.layers}
                                 for s in self.stmts],
                       "spans": [{"name": s.name, "stmt": s.stmt,
                                  "parent": s.parent, "start": s.start,
                                  "end": s.end, "self_s": s.self_s,
                                  "py4j": s.py4j} for s in self.spans]},
                      fh)
