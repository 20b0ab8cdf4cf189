"""Per-layer tracing of one benchmark run, measured from outside the engine.

The tracer never edits ``dwh_spark``. It wraps the public functions of
the layers it times (rebinding every loaded ``dwh_spark.*`` module that
imported the original by name, and patching methods on their class),
reads Spark's own status store for the jobs each query ran, and listens
to streaming progress events. Wrappers can be installed and removed
between passes, so one run can alternate traced and untraced passes
and report the tracing overhead.

Spans are kept in memory: one per query, and one per wrapped layer call
carrying the id of the query it ran under.
"""

from __future__ import annotations

import importlib
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# layer metric -> (module, attribute or "Class.method") wrapped for it
LAYER_CALLS = {
    "sources.load_table": [("dwh_spark.sources.catalog", "load_table")],
    "sources.sinks": [
        ("dwh_spark.sources.sinks", name)
        for name in ("write_partitioned", "write_bucketed", "write_jdbc",
                     "read_partitioned", "compact_small_files")
    ],
    "streaming.store_commit": [
        ("dwh_spark.streaming.ingest", "ParquetStateStore.commit"),
    ],
    "streaming.log_append": [
        ("dwh_spark.streaming.ingest", f"ParquetAppendLog.{m}")
        for m in ("append", "write_segment", "commit_segment")
    ],
    "streaming.compact": [
        ("dwh_spark.streaming.ingest", f"ParquetAppendLog.{m}")
        for m in ("compact", "rewrite_each", "expire")
    ],
    "streaming.window": [
        ("dwh_spark.streaming.maintenance", name)
        for name in ("run_maintenance_window", "run_fp_maintenance_window",
                     "run_two_store_window")
    ],
}

# durationMs keys of a streaming progress event -> metric suffix
PROGRESS_PARTS = {
    "addBatch": "add_batch_s",
    "queryPlanning": "query_planning_s",
    "latestOffset": "latest_offset_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
    "triggerExecution": "trigger_s",
}

_MB = 1024.0 * 1024.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class _ProgressListener(StreamingQueryListener):
    """Adds each micro-batch's progress to the tracer's open query."""

    def __init__(self, tracer: "Tracer") -> None:
        self._tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        parts = {PROGRESS_PARTS[k]: v / 1000.0
                 for k, v in (p.durationMs or {}).items() if k in PROGRESS_PARTS}
        self._tracer.add_progress(int(p.numInputRows), parts)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans and per-query layer counters for the passes it is enabled on."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._retained = int(self._sc.getConf().get("spark.ui.retainedJobs", "1000"))
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._query: dict | None = None
        self._job0 = 0
        self.spans: list[dict] = []
        # registered once: it records only while a traced query is open
        spark.streams.addListener(_ProgressListener(self))

    # -- wrapping -------------------------------------------------------
    def install(self) -> None:
        """Wrap every layer call in ``LAYER_CALLS``."""
        for metric, targets in LAYER_CALLS.items():
            for module_name, attr in targets:
                self._wrap(metric, importlib.import_module(module_name), attr)

    def uninstall(self) -> None:
        """Restore every original, leaving the engine as imported."""
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()

    def _wrap(self, metric: str, module, attr: str) -> None:
        if "." in attr:
            cls_name, name = attr.split(".")
            owner = getattr(module, cls_name)
            original = owner.__dict__[name]
            self._patch(owner, name, original, self._timed(metric, attr, original))
            return
        original = getattr(module, attr)
        wrapper = self._timed(metric, attr, original)
        # plan modules bind the name at import time (``from ... import``),
        # so rebind it wherever the original object is held
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("dwh_spark"):
                for name, value in list(vars(mod).items()):
                    if value is original:
                        self._patch(mod, name, original, wrapper)

    def _patch(self, owner, name: str, original, wrapper) -> None:
        self._patches.append((owner, name, original))
        setattr(owner, name, wrapper)

    def _timed(self, metric: str, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            depth = getattr(tracer._local, metric, 0)
            if depth or tracer._query is None:
                # nested call of the same layer (``append`` calls
                # ``write_segment``): the outer span already counts it
                return fn(*args, **kwargs)
            setattr(tracer._local, metric, 1)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                setattr(tracer._local, metric, 0)
                tracer._add_span(metric, name, t0, t1)

        wrapper.__wrapped__ = fn
        return wrapper

    # -- per-query accounting -------------------------------------------
    def _add_span(self, metric: str, name: str, t0: float, t1: float) -> None:
        with self._lock:
            q = self._query
            if q is None:
                return
            q["counters"][f"{metric}.calls"] += 1
            q["counters"][f"{metric}.s"] += t1 - t0
            self.spans.append({"query": q["id"], "parent": q["id"], "layer": metric,
                               "name": name, "start": t0, "end": t1})

    def add_progress(self, input_rows: int, parts: dict[str, float]) -> None:
        with self._lock:
            q = self._query
            if q is None:
                return
            c = q["counters"]
            c["streaming.microbatches"] += 1
            c["streaming.empty_microbatches"] += input_rows == 0
            c["streaming.input_rows"] += input_rows
            for key, seconds in parts.items():
                c[f"streaming.{key}"] += seconds

    def begin(self, qid: str, name: str) -> None:
        """Open query ``qid``: later layer calls and jobs belong to it."""
        self._flush_listeners()
        self._job0 = self._jsc.dagScheduler().numTotalJobs()
        with self._lock:
            self._query = {"id": qid, "name": name, "counters": defaultdict(float)}

    def end(self, wall0: float, wall1: float, build_s: float, sink_s: float) -> dict:
        """Close the open query; ``wall0``/``wall1`` are its epoch bounds."""
        self._flush_listeners()
        job1 = self._jsc.dagScheduler().numTotalJobs()
        with self._lock:
            q, self._query = self._query, None
        c = q["counters"]
        c.update(self._spark_counters(self._job0, job1, wall0, wall1))
        wall = wall1 - wall0
        c["plans.build_s"] = build_s
        c["plans.sink_s"] = sink_s
        c["plans.driver_gap_s"] = max(wall - c["spark.job_busy_s"], 0.0)
        c["lifecycle.persisted_rdds"] = self.persisted_rdds()
        q.update(wall_s=wall, counters=dict(c))
        self.spans.append({"query": q["id"], "parent": None, "layer": "query",
                           "name": q["name"], "start": wall0, "end": wall1})
        return q

    def persisted_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def _flush_listeners(self) -> None:
        # the status store and the streaming listener are fed by the
        # asynchronous listener bus: drain it before reading them
        self._jsc.listenerBus().waitUntilEmpty()

    def _spark_counters(self, job0: int, job1: int, wall0: float, wall1: float) -> dict:
        """Jobs, stages and tasks of job ids ``[job0, job1)``, read from
        the status store. Job ids are assigned in submission order, so
        the range is exactly the jobs submitted while the query ran,
        from any thread, whatever its job group."""
        if job1 - job0 > self._retained:
            raise RuntimeError(
                f"query ran {job1 - job0} jobs, more than the status store "
                f"retains ({self._retained}); per-query attribution is lost")
        c: dict[str, float] = defaultdict(float)
        busy: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for job_id in range(job0, job1):
            try:
                job = self._store.job(job_id)
            except Py4JJavaError as exc:  # NoSuchElementException: evicted
                raise RuntimeError(
                    f"job {job_id} is missing from the status store: "
                    "attribution by job-id range is incomplete") from exc
            c["spark.jobs"] += 1
            c["spark.tasks"] += job.numCompletedTasks() + job.numFailedTasks()
            c["spark.skipped_stages"] += job.numSkippedStages()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                a = max(sub.get().getTime() / 1000.0, wall0)
                b = min(done.get().getTime() / 1000.0, wall1)
                if b > a:
                    busy.append((a, b))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for stage_id in stage_ids:
            stage = self._store.lastStageAttempt(stage_id)
            if stage.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.task_run_s"] += stage.executorRunTime() / 1000.0
            c["spark.task_cpu_s"] += stage.executorCpuTime() / 1e9
            c["spark.input_mb"] += stage.inputBytes() / _MB
            c["spark.shuffle_read_mb"] += stage.shuffleReadBytes() / _MB
            c["spark.shuffle_write_mb"] += stage.shuffleWriteBytes() / _MB
            c["spark.spill_mb"] += stage.diskBytesSpilled() / _MB
        c["spark.job_busy_s"] = _union_s(busy)
        return c
