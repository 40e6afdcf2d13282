"""Spans and layer counters taken from outside the engine.

Spans are recorded by the benchmark around its own calls into the engine
(pass -> query -> build / exec) and kept in memory until the run ends.

Layer counters come from Spark's stores, attributed by id ranges rather
than by job group: stream micro-batches run on stream threads, so a job
group set by the caller misses them.  At each phase boundary the tracer
notes the next job, stage, SQL execution and RDD ids; once the listener
bus has drained, every job, stage and execution whose id falls inside a
phase's range belongs to that phase.  ``statusStore()`` works with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field

_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.boot_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
}
# counters reported per phase, as "build.<name>" / "exec.<name>"
PHASE_COUNTERS = ("jobs", "stages", "stages_skipped", "tasks", "persisted_rdds")
# counters reported per pass, summed over both phases
PASS_COUNTERS = (
    "tasks.failed", "jvm.task_run_s", "jvm.task_cpu_s", "jvm.gc_s",
    "scan.input_mb", "scan.input_rows", "shuffle.write_mb",
    "shuffle.read_mb", "spill.mb", "python.run_s", "python.boot_s",
    "python.sent_mb", "python.received_mb",
)
STREAM_COUNTERS = ("stream.batches", "stream.trigger_s", "stream.add_batch_s",
                   "stream.commit_s", "stream.planning_s", "stream.input_rows")
_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
         "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
         "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6}
_TOTAL = re.compile(r"(?:^|\n)([\d.,]+) ?([A-Za-z]+)")


def sql_metric_total(text: str) -> float:
    """Total of a formatted SQL metric: ``'total (min, med, max ...)\\n
    5.2 s (1.3 s, ...)'`` -> 5.2 (seconds; sizes come back in MB)."""
    m = _TOTAL.search(text or "")
    if not m or m.group(2) not in _UNIT:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


@dataclass
class Spans:
    """Pass -> query -> build/exec spans of one run, kept in memory."""

    run_id: str
    t0: float = field(default_factory=time.perf_counter)
    items: list[dict] = field(default_factory=list)

    def open(self, name: str, kind: str, parent: int | None, **attrs) -> int:
        self.items.append({"id": len(self.items), "parent": parent,
                           "run": self.run_id, "name": name, "kind": kind,
                           "start": time.perf_counter() - self.t0,
                           "end": None, **attrs})
        return len(self.items) - 1

    def close(self, sid: int, **attrs) -> float:
        span = self.items[sid]
        span["end"] = time.perf_counter() - self.t0
        span.update(attrs)
        return span["end"] - span["start"]


class LayerTracer:
    """Reads Spark's status stores for the jobs of one phase."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._sc = sc._jsc.sc()
        self._jsc = sc._jsc
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.findAndRegisterModules()
        self._gcs = list(self._jvm.java.lang.management.ManagementFactory
                         .getGarbageCollectorMXBeans())

    def mark(self) -> dict:
        """Next job / stage / SQL execution / RDD ids at this instant, and
        the JVM's GC milliseconds so far (driver and executors share the
        JVM in local mode)."""
        n = self._sql.executionsCount()
        last = self._sql.executionsList(n - 1, 1) if n else None
        return {"job": int(self._dag.nextJobId()),
                "stage": int(self._dag.nextStageId()),
                "sql": int(last.apply(0).executionId()) + 1 if n else 0,
                "rdd": int(self._sc.newRddId()),
                "gc_ms": sum(int(b.getCollectionTime()) for b in self._gcs)}

    def _dump(self, obj) -> object:
        return json.loads(self._json.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every listener (status store, stream listener) has
        seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def phases(self, marks: list[dict]) -> list[dict]:
        """Layer counters of each phase ``[marks[i], marks[i+1])``: the
        jobs, stages and SQL executions whose ids fall in the range.
        Call :meth:`drain` first."""
        ranges = list(zip(marks, marks[1:]))
        outs = [dict.fromkeys(PHASE_COUNTERS + PASS_COUNTERS, 0.0)
                for _ in ranges]
        for (a, b), out in zip(ranges, outs):
            out["jvm.gc_s"] = (b["gc_ms"] - a["gc_ms"]) / 1e3
        first, last = marks[0], marks[-1]

        def owner(kind: str, ident: int) -> dict | None:
            for (a, b), out in zip(ranges, outs):
                if a[kind] <= ident < b[kind]:
                    return out
            return None

        empty = self._jvm.java.util.ArrayList()
        if last["job"] > first["job"]:
            for job in self._dump(self._store.jobsList(empty)):
                out = owner("job", job["jobId"])
                if out is not None:
                    out["jobs"] += 1
                    out["stages_skipped"] += job["numSkippedStages"]
        if last["stage"] > first["stage"]:
            no_quantiles = self._gateway.new_array(self._jvm.double, 0)
            for st in self._dump(self._store.stageList(
                    empty, False, False, no_quantiles, empty)):
                out = owner("stage", st["stageId"])
                if out is None or st["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["tasks.failed"] += st["numFailedTasks"]
                out["jvm.task_run_s"] += st["executorRunTime"] / 1e3
                out["jvm.task_cpu_s"] += st["executorCpuTime"] / 1e9
                out["scan.input_mb"] += st["inputBytes"] / 1e6
                out["scan.input_rows"] += st["inputRecords"]
                out["shuffle.write_mb"] += st["shuffleWriteBytes"] / 1e6
                out["shuffle.read_mb"] += st["shuffleReadBytes"] / 1e6
                out["spill.mb"] += st["diskBytesSpilled"] / 1e6
        for eid in range(first["sql"], last["sql"]):
            ui = self._sql.execution(eid)
            if ui.isEmpty():
                continue
            names = {str(m["accumulatorId"]): _PY_METRICS[m["name"]]
                     for m in self._dump(ui.get().metrics())
                     if m["name"] in _PY_METRICS}
            if not names:
                continue
            out = owner("sql", eid)
            for acc, text in self._dump(self._sql.executionMetrics(eid)).items():
                if acc in names:
                    out[names[acc]] += sql_metric_total(text)
        if last["rdd"] > first["rdd"]:
            for rid in self._jsc.getPersistentRDDs().keySet().toArray():
                out = owner("rdd", int(rid))
                if out is not None:
                    out["persisted_rdds"] += 1
        return outs


class StreamProgress:
    """A StreamingQueryListener that files each micro-batch's progress
    under the query span that is open when the batch reports."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                outer.batches.append({
                    "span": outer.current,
                    "stream.trigger_s": d.get("triggerExecution", 0) / 1e3,
                    "stream.add_batch_s": d.get("addBatch", 0) / 1e3,
                    "stream.commit_s": (d.get("walCommit", 0)
                                        + d.get("commitOffsets", 0)) / 1e3,
                    "stream.planning_s": d.get("queryPlanning", 0) / 1e3,
                    "stream.input_rows": p.numInputRows or 0,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.current: int | None = None
        self.batches: list[dict] = []

    def take(self, span: int) -> dict:
        """Totals of the batches filed under ``span``."""
        mine = [b for b in self.batches if b["span"] == span]
        out = {"stream.batches": float(len(mine))}
        for key in STREAM_COUNTERS[1:]:
            out[key] = float(sum(b[key] for b in mine))
        return out
