"""Per-layer measurement from outside the engine.

Nothing here changes engine code. Each layer is measured by timing the
benchmark's own calls into that layer's public functions and by reading what
Spark already records:

- jobs, stages and tasks come from Spark's ``AppStatusStore`` (kept even
  with the UI off), attributed to a phase by the job-ID range it launched;
- Catalyst phase times come from ``QueryExecution.tracker().phases()``;
- streaming progress comes from a ``StreamingQueryListener`` (traced runs) or
  a query's ``recentProgress``.

``Tracer`` keeps spans in memory (name, start, end, parent, run id) and writes
them out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    "task_s": "executorRunTime",
    "gc_s": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}
MS_FIELDS = ("task_s", "gc_s")


def layer_totals() -> dict:
    """Zeroed per-layer accumulators; a layer a workload never enters stays 0."""
    keys = (
        "queries.build_s queries.build_jobs queries.build_tasks queries.build_task_s "
        "queries.build_shuffle_bytes catalyst.analysis_ms catalyst.optimization_ms "
        "catalyst.planning_ms exec.s exec.jobs exec.stages exec.stages_skipped exec.tasks "
        "exec.task_s exec.gc_s exec.shuffle_read_bytes exec.shuffle_write_bytes "
        "exec.spill_bytes exec.failed_tasks exec.core_util session.release_cached_s "
        "session.rdds_released sources.lag_files sources.lag_s"
    ).split()
    return dict.fromkeys(keys, 0.0)


def core_util(spark, tot: dict) -> float:
    """Task time over the wall time of the consuming actions times cores."""
    cores = spark.sparkContext.defaultParallelism
    return tot["exec.task_s"] / (tot["exec.s"] * cores) if tot["exec.s"] else 0.0


def wait_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every queued event, so
    the status store and streaming listeners reflect all finished work."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


class JobMeter:
    """Counts the jobs, stages and tasks launched since the last ``take``.

    Job IDs are sequential per SparkContext and the benchmark runs one thing
    at a time, so the jobs of a phase are exactly the IDs after the newest job
    of the previous ``take``, up to the newest job now. This also catches jobs
    started from streaming threads, which carry their own job group rather
    than the phase's. The store keeps only the newest ``spark.ui.retainedJobs``
    jobs; a job of a phase that was evicted before it was counted raises
    rather than reading as zero.
    """

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        wait_listeners(spark)
        self.next_id = self._newest() + 1  # count only jobs launched from now on

    def _newest(self) -> int:
        """ID of the newest job in the status store, -1 if there is none."""
        jobs = self.store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _job(self, job_id: int):
        try:
            return self.store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: not launched (yet)
            return None

    def take(self) -> dict:
        """Totals for jobs launched since the previous call."""
        wait_listeners(self.spark)
        out = dict.fromkeys(
            ("jobs", "stages", "stages_skipped", "tasks", "failed_tasks", "spill_bytes"), 0
        )
        out.update(dict.fromkeys(STAGE_FIELDS, 0.0))
        seen: set[int] = set()
        newest = self._newest()
        for job_id in range(self.next_id, newest + 1):
            job = self._job(job_id)
            if job is None:
                raise RuntimeError(f"job {job_id} left Spark's status store before it was "
                                   "counted (spark.ui.retainedJobs)")
            out["jobs"] += 1
            out["stages_skipped"] += job.numSkippedStages()
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                for key, getter in STAGE_FIELDS.items():
                    out[key] += getattr(st, getter)()
        self.next_id = newest + 1
        for key in MS_FIELDS:
            out[key] /= 1000.0
        return out


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning ms recorded for ``df``'s QueryExecution.
    Forces physical planning if it has not happened yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def progress_dicts(query) -> list[dict]:
    """A query's ``recentProgress`` as plain dicts, oldest first."""
    out = []
    for p in query.recentProgress or []:
        if isinstance(p, dict):
            out.append(p)
        else:
            j = p.json
            out.append(json.loads(j if isinstance(j, str) else j()))
    return out


def streaming_summary(progress: list[dict]) -> dict:
    """Reduce progress entries to the ``streaming.*`` layer metrics: sums for
    counts, per-batch means for phase durations, peak for state memory."""
    n = len(progress)

    def dur(p, key):
        return float((p.get("durationMs") or {}).get(key, 0))

    def ops(p, key):
        return sum(float(o.get(key, 0) or 0) for o in p.get("stateOperators") or [])

    def mean(xs):
        return sum(xs) / n if n else 0.0

    state_rows = 0.0
    last_by_run: dict[str, dict] = {}
    for p in progress:
        last_by_run[p.get("runId", "")] = p
    for p in last_by_run.values():
        state_rows += ops(p, "numRowsTotal")
    return {
        "batches": n,
        "trigger_ms": mean([dur(p, "triggerExecution") for p in progress]),
        "add_batch_ms": mean([dur(p, "addBatch") for p in progress]),
        "query_planning_ms": mean([dur(p, "queryPlanning") for p in progress]),
        "wal_commit_ms": mean([dur(p, "walCommit") for p in progress]),
        "latest_offset_ms": mean([dur(p, "latestOffset") for p in progress]),
        "input_rows": sum(float(p.get("numInputRows", 0) or 0) for p in progress),
        "state_rows": state_rows,
        "state_mem_bytes": max([ops(p, "memoryUsedBytes") for p in progress], default=0.0),
        "state_commit_ms": mean([ops(p, "commitTimeMs") for p in progress]),
        "watermark_dropped_rows": sum(ops(p, "numRowsDroppedByWatermark") for p in progress),
    }


def progress_listener(spark):
    """Register and return a listener that appends every streaming query's
    progress (as a dict) to its ``progress`` list."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


class Tracer:
    """In-memory spans: ``with tracer.span("build", parent=q) as sid: ...``,
    or ``open``/``close`` for a span that brackets a callback's lifetime."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []

    def add(self, name: str, parent: int | None, start: float, end: float | None = None,
            **attrs) -> int:
        """Record a span with times in seconds since the tracer started."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
                           "start": start, "end": end, **attrs})
        return sid

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        return self.add(name, parent, time.perf_counter() - self.t0, **attrs)

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = self.open(name, parent, **attrs)
        try:
            yield sid
        finally:
            self.close(sid)

    def write(self, path: str, metrics: dict, env: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "env": env, "metrics": metrics,
                       "spans": self.spans}, f, indent=1)
