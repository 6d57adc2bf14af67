"""Per-query layer counters read from outside the program.

Everything here observes a running SparkSession through public or
listener interfaces; it changes no engine setting:

* Spark jobs and their stages come from the application status store
  (the data behind Spark's UI and REST API), read after each query and
  assigned to the query by submission time.
* Catalyst phase times: analysis from the built frame's own
  ``QueryExecution`` (a frame is analysed when it is built), optimisation
  and physical planning from the materialising write's, which a
  ``QueryExecutionListener`` reports as the query's last execution.
* Micro-batch progress comes from a ``StreamingQueryListener``.
* Bytes held by persisted and checkpointed frames come from the block
  manager's RDD storage info.
* Python worker CPU comes from /proc.

Listener events arrive on Spark's listener bus thread, so ``end`` drains
the bus before reading anything.
"""

from __future__ import annotations

import json
import math
import threading
import time
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import procfs
from perfbench.metrics import (
    JOB_COUNTERS,
    Interval,
    QueryTrace,
    Span,
    layer_record,
    self_times,
)

#: stage metrics summed into each job span: status-store field -> (counter, scale)
STAGE_FIELDS = {
    "executorRunTime": ("run_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_rows", 1),
    "outputBytes": ("output_bytes", 1),
    "outputRecords": ("output_rows", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}

PHASES = {"analysis": "analysis_ms", "optimization": "optimize_ms", "planning": "physical_ms"}


class _ExecutionListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = qe.tracker().phases()
        rec = {}
        for phase, key in PHASES.items():
            opt = phases.get(phase)
            rec[key] = opt.get().durationMs() if opt.isDefined() else 0
        with self.lock:
            self.events.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        with self.lock:
            self.events.append({"failed": True})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        rec = {
            "id": str(p.id),
            "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "input_rows": p.numInputRows,
            "durations_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Tracer:
    """Collects one query's layer record per ``begin``/``end`` pair."""

    def __init__(self, spark: SparkSession, root_pid: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.root_pid = root_pid
        jvm = self.sc._jvm
        ensure_callback_server_started(self.sc._gateway)
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module.__getattr__("MODULE$")
        )
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.qel = _ExecutionListener()
        self.spark._jsparkSession.listenerManager().register(self.qel)
        self.spl = _ProgressListener()
        self.spark.streams.addListener(self.spl)
        self.cores = self.sc.defaultParallelism
        self.seen_stages: set[int] = set()
        self.last_job = max((j["jobId"] for j in self._jobs()), default=-1)
        #: wall time spent reading Spark state between the traced queries
        self.overhead_s = 0.0

    def close(self) -> None:
        self.spark.streams.removeListener(self.spl)
        self.spark._jsparkSession.listenerManager().unregister(self.qel)

    def _jobs(self) -> list[dict]:
        """Every job in the status store, whatever its job group.

        A stream's micro-batch jobs carry the stream's run id as their
        group, and thread pools drop the caller's, so jobs are attributed
        by submission time alone.
        """
        return self._json(self.store.jobsList(None))

    def _json(self, obj) -> dict | list:
        return json.loads(self.mapper.writeValueAsString(obj))

    def _python_cpu(self) -> float:
        pids = procfs.tree(self.root_pid)
        return procfs.cpu_seconds(procfs.python_workers(pids, self.root_pid))

    def begin(self) -> None:
        t = time.perf_counter()
        with self.qel.lock, self.spl.lock:
            self.n_exec, self.n_prog = len(self.qel.events), len(self.spl.progress)
        self.py_cpu0 = self._python_cpu()
        self.overhead_s += time.perf_counter() - t

    def _job_span(self, job: dict) -> Span:
        now_ms = time.time() * 1000
        attrs: dict = {"stages": 0, "tasks": 0}
        attrs.update(dict.fromkeys(JOB_COUNTERS, 0))
        for sid in job["stageIds"]:
            if sid in self.seen_stages:
                continue  # a reused shuffle stage is billed to the job that ran it
            try:
                st = self._json(self.store.lastStageAttempt(sid))
            except Py4JJavaError:  # never submitted: Spark keeps no attempt for it
                continue
            if st["status"] == "SKIPPED":
                continue
            self.seen_stages.add(sid)
            attrs["stages"] += 1
            attrs["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"] + st["numKilledTasks"]
            for src, (key, scale) in STAGE_FIELDS.items():
                attrs[key] += st.get(src, 0) * scale
        start = job["submissionTime"] or now_ms
        end = job["completionTime"] or now_ms
        return Span("operators.job", start / 1000, end / 1000, None, attrs)

    def end(self, name: str, build: Interval, write: Interval, frame) -> dict:
        """Read everything the query left in Spark; return its layer record."""
        t = time.perf_counter()
        self.bus.waitUntilEmpty()
        new = sorted(
            (j for j in self._jobs() if j["jobId"] > self.last_job), key=lambda j: j["jobId"]
        )
        self.last_job = max((j["jobId"] for j in new), default=self.last_job)
        jobs = [self._job_span(j) for j in new]
        with self.qel.lock, self.spl.lock:
            execs = self.qel.events[self.n_exec :]
            prog = self.spl.progress[self.n_prog :]
        batches = [
            Span(
                "streaming.batch",
                p["start"],
                p["start"] + p["durations_ms"].get("triggerExecution", 0) / 1000,
                None,
                p,
            )
            for p in prog
        ]
        # Spark stamps jobs in whole milliseconds: widen the window to match
        window = (math.floor(build[0] * 1000) / 1000, math.ceil(write[1] * 1000) / 1000)
        qt = QueryTrace(name, (window[0], build[1]), (build[1], window[1]), jobs, batches)
        rec = layer_record(qt, self.cores)
        spans = qt.spans()
        rec["spans"] = [
            {"name": sp.name, "start": sp.start, "end": sp.end, "parent": sp.parent, "self_s": st}
            for sp, st in zip(spans, self_times(spans))
        ]
        done = [e for e in execs if not e.get("failed")]
        last = done[-1] if done else {}
        for key in PHASES.values():
            rec[f"session.{key}"] = last.get(key, 0)
        analysis = frame._jdf.queryExecution().tracker().phases().get("analysis")
        rec["session.analysis_ms"] = analysis.get().durationMs() if analysis.isDefined() else 0
        rec["session.executions"] = len(execs)
        rec["plans.pinned_bytes"] = sum(
            i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()
        )
        rec["arrow.python_cpu_s"] = self._python_cpu() - self.py_cpu0
        self.overhead_s += time.perf_counter() - t
        return rec
