"""Per-layer tracing for ``--trace 1`` runs.

Everything here observes the engine from outside: spans are recorded in
the benchmark's own loop around calls into the engine's public functions
(registry callables, ``Engine.sql``, ``DataFrame.collect``), and counts
are read after each operation from Spark's public status surfaces:

- ``QueryExecution.tracker().phases()``: Catalyst analysis, optimization
  and planning, with wall-clock start and end;
- ``CodeGenerator.compileTime`` and ``CodegenMetrics``: janino compiles.
  Both are process-global, which is why operations run one at a time;
- ``plans.metrics.collect_plan_metrics``: SQLMetrics of the executed plan,
  including the ``Python*`` metrics of the Python-worker operators;
- ``statusTracker`` and the status store: jobs, stages, tasks, task
  run/CPU/fetch-wait time and spill, found through a per-operation job
  group;
- a ``StreamingQueryListener``: micro-batch ``durationMs`` breakdowns;
- the JVM's GC and memory-pool MXBeans.

Spans are kept in memory and written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

from ballista_mvp_spark.plans.metrics import collect_plan_metrics

_PY_NODES = ("Python", "Pandas")


@dataclass
class Span:
    op: int
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress report of the process."""

    def __init__(self) -> None:
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "duration": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans and per-operation counts for one traced run.

    ``before``/``between``/``after`` bracket one operation: the first
    and last run outside the operation's timed interval, ``between``
    (the job-group switch from build to collect) inside it, so it is
    part of the measured tracing overhead.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._mx = jvm.java.lang.management.ManagementFactory
        self._store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)
        for pool in self._mx.getMemoryPoolMXBeans():
            pool.resetPeakUsage()
        self._gc0 = self._gc_ms()
        self._cur: dict = {}

    # -- JVM-wide counters -------------------------------------------------
    def _gc_ms(self) -> int:
        return sum(max(0, g.getCollectionTime()) for g in self._mx.getGarbageCollectorMXBeans())

    def _codegen_counts(self) -> tuple[int, int]:
        return self._codegen_hist.getCount(), self._codegen.compileTime()

    def heap_peak_mib(self) -> float:
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mx.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
        ) / 2**20

    def gc_s(self) -> float:
        return (self._gc_ms() - self._gc0) / 1000.0

    # -- one operation -----------------------------------------------------
    def before(self, op_id: int) -> None:
        compiles, compile_ns = self._codegen_counts()
        self._cur = {"op": op_id, "compiles": compiles, "compile_ns": compile_ns}
        self.sc.setJobGroup(f"perfbench-b{op_id}", "build", False)

    def between(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-c{op_id}", "collect", False)

    def after(self, op, df, t_start: float, t_built: float, t_end: float) -> None:
        """Record the spans and counts of the operation that just ended.
        ``t_*`` are epoch seconds taken by the caller's loop."""
        op_id = self._cur["op"]
        build_layer = "engine.sql" if op.layer == "engine" else "queries.build"
        self.spans += [
            Span(op_id, "op", None, t_start, t_end),
            Span(op_id, build_layer, "op", t_start, t_built),
            Span(op_id, "exec.collect", "op", t_built, t_end),
        ]
        compiles, compile_ns = self._codegen_counts()
        rec: dict = {
            "op": op_id,
            "label": op.label,
            "kind": op.kind,
            "layer": op.layer,
            "op_s": t_end - t_start,
            "build_s": t_built - t_start,
            "collect_s": t_end - t_built,
            "codegen.compiles": compiles - self._cur["compiles"],
            "codegen.compile_ms": (compile_ns - self._cur["compile_ns"]) / 1e6,
        }
        rec["queries.eager_jobs"] = len(self._jobs(f"perfbench-b{op_id}"))
        rec.update(self._exec_counts(f"perfbench-b{op_id}", f"perfbench-c{op_id}"))
        if op.kind == "read":
            rec.update(self._catalyst(df, op_id, t_start, t_end))
            rec.update(self._plan_counts(df))
        self.sc.setJobGroup("perfbench-idle", "idle", False)
        self.ops.append(rec)

    def _jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _exec_counts(self, *groups: str) -> dict:
        st = self.sc.statusTracker()
        jobs = [j for g in groups for j in self._jobs(g)]
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": 0,
            "exec.task_run_s": 0.0,
            "exec.task_cpu_s": 0.0,
            "exec.shuffle_fetch_wait_s": 0.0,
            "exec.spill_bytes": 0,
        }
        for s in stages:
            try:
                sd = self._store.lastStageAttempt(s)
            except Exception:  # py4j: a stage skipped by AQE has no attempt
                continue
            out["exec.tasks"] += sd.numTasks()
            out["exec.task_run_s"] += sd.executorRunTime() / 1e3
            out["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def _catalyst(self, df, op_id: int, t_start: float, t_end: float) -> dict:
        out = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0, "catalyst.planning_ms": 0.0}
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            name, summary = kv._1(), kv._2()
            key = f"catalyst.{name}_ms"
            if key not in out:
                continue
            out[key] = float(summary.durationMs())
            start, end = summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3
            # phases that ran before this operation (a cached plan) are
            # not part of it
            if start >= t_start - 0.001 and end <= t_end + 0.001:
                self.spans.append(Span(op_id, f"catalyst.{name}", self._parent_of(op_id, start), start, end))
            else:
                out[key] = 0.0
        return out

    def _parent_of(self, op_id: int, t: float) -> str:
        for s in reversed(self.spans):
            if s.op == op_id and s.parent == "op" and s.start <= t <= s.end:
                return s.name
        return "op"

    def _plan_counts(self, df) -> dict:
        qm = collect_plan_metrics(df)
        py = defaultdict(int)
        for cls, m in qm.per_node:
            if any(k in cls for k in _PY_NODES):
                for key in ("pythonTotalTime", "pythonBootTime", "pythonInitTime", "pythonDataSent", "pythonDataReceived"):
                    py[key] += m.get(key, 0)
        return {
            "exec.scan_rows": qm.scan_rows,
            "exec.scan_bytes": qm.scan_bytes,
            "exec.output_rows": qm.output_rows,
            "exec.shuffle_bytes_written": qm.shuffle_bytes_written,
            "exec.shuffle_records_read": qm.shuffle_records_read,
            "exec.broadcasts": qm.num_broadcast_exchanges,
            "pyworker.total_ms": py["pythonTotalTime"],
            "pyworker.boot_ms": py["pythonBootTime"],
            "pyworker.init_ms": py["pythonInitTime"],
            "pyworker.bytes_sent": py["pythonDataSent"],
            "pyworker.bytes_received": py["pythonDataReceived"],
        }

    # -- run summary -------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Mean self time per operation of each span name: the span's
        duration minus the part of it that its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[(s.op, s.parent)].append(s)
        total = defaultdict(float)
        for s in self.spans:
            covered = sum(c.end - c.start for c in children.get((s.op, s.name), []))
            total[s.name] += max(0.0, (s.end - s.start) - covered)
        n = max(1, len(self.ops))
        return {name: t / n for name, t in total.items()}

    def streaming(self, n_drains: int) -> dict:
        """Per-drain means of the micro-batch progress reports."""
        n = max(1, n_drains)
        prog = self.listener.progress

        def dur(key: str) -> float:
            return sum(p["duration"].get(key, 0) for p in prog) / n

        return {
            "streaming.batches": len(prog) / n,
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.state_rows": sum(p["state_rows"] for p in prog) / n,
        }

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
