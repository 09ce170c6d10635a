"""Outside-in tracing: spans recorded around calls into the engine's public
functions, and counters read from Spark's own status (the status store,
the codegen metrics, the query planning tracker, JVM management beans).
Nothing here patches or wraps code inside the engine package.

Spans live in memory and are written once, when the run ends. Each span
has a name, start, end, parent and op id, and nests run > pass > op >
layer call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_op = 0

    @contextmanager
    def span(self, name: str, op: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        op_id = parent["op"] if parent else None
        if op:
            self._next_op += 1
            op_id = self._next_op
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([dict(s, self_s=own[s["id"]]) for s in self.spans], fh)


class JvmProbe:
    """Counters from the driver JVM, read through the py4j gateway."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark._jsc.sc()
        self._codegen = getattr(
            getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$"), "MODULE$"
        )
        self._codegen_time = getattr(
            getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"),
            "MODULE$",
        )
        self._mf = jvm.java.lang.management.ManagementFactory

    def codegen(self) -> tuple[int, float]:
        """(compilations so far, compile seconds so far)."""
        return (
            self._codegen.METRIC_COMPILATION_TIME().getCount(),
            self._codegen_time.compileTime() / 1e9,
        )

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    def jobs_summary(self, first: int, end: int) -> dict:
        """Totals over jobs ``first <= id < end``. Jobs are attributed by id
        range, not job group: streaming micro-batches run under their own
        group on the stream thread."""
        self._sc.listenerBus().waitUntilEmpty(10_000)
        store = self._sc.statusStore()
        out = {"jobs": end - first, "stages": 0, "tasks": 0, "run_s": 0.0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
               "first_stage_tasks": 0}
        seen = set()
        for jid in range(first, end):
            ids = store.job(jid).stageIds()  # a Scala Seq
            for sid in (ids.apply(i) for i in range(ids.size())):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                if not out["stages"]:
                    out["first_stage_tasks"] = st.numTasks()
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return out

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def heap_peak_mb(self) -> float:
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ) / 2**20

    def persisted_frames(self) -> int:
        return self._sc.getPersistentRDDs().size()


def tracker_phases_ms(qe) -> dict[str, float]:
    """Phase name -> milliseconds, from a QueryExecution's QueryPlanningTracker."""
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = float(kv._2().durationMs())
    return phases


class PlanningListener:
    """A QueryExecutionListener, served through py4j's callback server, that
    reads the optimization and planning phases of each finished query
    execution from that execution's own tracker. A noop write plans its
    query in a new execution, so this sees the planning the write really
    did, without planning the DataFrame a second time. The callback server
    runs on daemon threads and ends with the process (shutting it down
    explicitly blocks on closing its connection)."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._bus = spark._jsc.sc().listenerBus()
        self._seen: list[dict[str, float]] = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        self._seen.append(tracker_phases_ms(qe))

    def onFailure(self, func_name, qe, exception):
        pass

    def take(self) -> dict[str, float]:
        """Optimization and planning summed over the executions that
        finished since the last call."""
        self._bus.waitUntilEmpty(10_000)
        seen, self._seen = self._seen, []
        return {
            "optimization_ms": sum(p.get("optimization", 0.0) for p in seen),
            "planning_ms": sum(p.get("planning", 0.0) for p in seen),
        }

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
