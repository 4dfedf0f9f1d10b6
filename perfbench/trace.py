"""Spans and Spark counters for the traced run.

The tracer wraps the benchmark's calls into the engine's public
functions: one span per call (name, start, end, parent), with the spans
of one op sharing the op's id. While a span is open its id is the
SparkContext job group, so the jobs a call launches (and not those of
its child spans) are attributed to it. After the op has ended, outside
its wall time, the tracer reads the SparkContext status store (live
with the UI disabled) for those jobs and their stages, and the SQL
status store for the final physical plans of the op's executions.

Spans stay in memory and are written out when the run ends. With
tracing off every call is a no-op, so the untraced loop pays nothing.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")
_REUSED = re.compile(r"\bReusedExchange\b")
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def size_bytes(value: str) -> float:
    """Bytes in a formatted SQL size metric: its total, the first
    size the string shows."""
    m = _SIZE.search(value)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


def final_plan(description: str) -> str:
    """The executed part of an adaptive plan description (its initial
    plan is dropped so no exchange is counted twice)."""
    return description.split("== Initial Plan ==")[0]


class Tracer:
    """Span recorder for one run; disabled means every call is free."""

    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None

    def _set_group(self, sid: int | None) -> None:
        jsc = self.spark.sparkContext._jsc
        if sid is None:
            jsc.clearJobGroup()
        else:
            jsc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"],
                            False)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "op": self._op["id"] if self._op else None,
               "name": name, "parent": parent, "start": time.time(),
               "end": None, "jobs": []}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def op(self, name: str):
        """Root span of one op; after it closes, attach the Spark jobs,
        stages and plans it caused."""
        if not self.enabled:
            yield
            return
        sql = self.spark._jsparkSession.sharedState().statusStore()
        self._op = {"id": len(self.ops), "name": name, "span": len(self.spans),
                    "exec_lo": sql.executionsCount()}
        self.ops.append(self._op)
        try:
            with self.span(name):
                yield
        finally:
            op, self._op = self._op, None
            self._collect(op, sql)

    # -- status-store reads, outside the op's wall time -----------------

    def _collect(self, op: dict, sql) -> None:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        for rec in self.spans[op["span"]:]:
            for jid in sc.statusTracker().getJobIdsForGroup(
                    f"perfbench-{rec['id']}"):
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                stages = []
                for stage_id in as_java(job.stageIds()):
                    st = store.lastStageAttempt(stage_id)
                    if st.status().toString() != "COMPLETE":
                        continue      # skipped: its shuffle was reused
                    stages.append({
                        "tasks": st.numTasks(),
                        "task_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "output_bytes": st.outputBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "shuffle_records": st.shuffleWriteRecords(),
                        "spill_bytes": (st.memoryBytesSpilled()
                                        + st.diskBytesSpilled()),
                    })
                rec["jobs"].append({
                    "id": jid,
                    "start": sub.get().getTime() / 1e3 if sub.isDefined()
                    else rec["start"],
                    "end": done.get().getTime() / 1e3 if done.isDefined()
                    else rec["end"],
                    "stages": stages,
                })
        hi = sql.executionsCount()
        op["exchanges"] = op["reused_exchanges"] = 0
        op["files_read_bytes"] = 0.0
        if hi > op["exec_lo"]:
            for ex in as_java(sql.executionsList(op["exec_lo"],
                                                 hi - op["exec_lo"])):
                plan = final_plan(ex.physicalPlanDescription())
                op["exchanges"] += len(_EXCHANGE.findall(plan))
                op["reused_exchanges"] += len(_REUSED.findall(plan))
                op["files_read_bytes"] += self._files_read(sql, ex, as_java)
        rdds = as_java(store.rddList(True))
        op["persisted_rdds"] = len(rdds)
        op["persisted_bytes"] = sum(r.memoryUsed() + r.diskUsed()
                                    for r in rdds)

    @staticmethod
    def _files_read(sql, ex, as_java) -> float:
        """Sum of the scans' "size of files read" SQL metrics of one
        execution (the task input metric misses parquet reads)."""
        eid = ex.executionId()
        ids = [m.accumulatorId()
               for node in as_java(sql.planGraph(eid).allNodes())
               for m in as_java(node.metrics())
               if m.name() == "size of files read"]
        if not ids:
            return 0.0
        values = {int(e.getKey()): e.getValue() for e in
                  as_java(sql.executionMetrics(eid)).entrySet()}
        return sum(size_bytes(values.get(i, "")) for i in ids)

    # -- summaries -------------------------------------------------------

    def op_spans(self, op: dict) -> list[dict]:
        return [s for s in self.spans if s["op"] == op["id"]]

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans
        cover, summed over the run."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans
                    if c["parent"] == s["id"]]
            own = s["end"] - s["start"] - covered(kids, s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops,
                       "self_time_s": self.self_times(), **extra}, f)
