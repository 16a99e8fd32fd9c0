"""Traced runs: spans around the package's eager entry points, with Spark
work attributed to each span from the Spark application's status store.

Each span sets its own Spark job group.  When the span ends, the tracer
waits for the listener bus to drain and reads the group's jobs and stages
from ``sc._jsc.sc().statusStore()`` (executor run and CPU time, shuffle
bytes, spill, output bytes, per-task run times).  Reading the status store
runs no Spark job; every harvest checks that with the status tracker.

Jobs that run in a parent's group between two of its child spans ran while
the next child's plan was being built (an operator that is not lazy, or
the eager part of a stage such as connected-components rounds).  They are
given to a synthetic ``plan:<child>`` span so the operator that caused
them owns them.  A lazy operator's work runs inside the commit that
materializes it and is attributed there.

Spans stay in memory; ``Tracer.spans`` is written out once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import uuid

HARVEST_GROUP = "lssbench:harvest"


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile; 0 for no samples."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def span_metrics(jobs: list[dict]) -> dict:
    """What a span's own jobs cost, summed over their stages."""
    stages = [st for job in jobs for st in job["stages"]]
    tasks = [t for st in stages for t in st["task_run_ms"]]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": sum(st["run_ms"] for st in stages) / 1e3,
        "executor_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "shuffle_write_mb": sum(st["shuffle_write_bytes"] for st in stages) / 1e6,
        "shuffle_read_mb": sum(st["shuffle_read_bytes"] for st in stages) / 1e6,
        "spill_mb": sum(st["spill_bytes"] for st in stages) / 1e6,
        "output_mb": sum(st["output_bytes"] for st in stages) / 1e6,
        "task_p50_ms": quantile(tasks, 0.5),
        "task_p99_ms": quantile(tasks, 0.99),
    }


class StatusStore:
    """Job and stage metrics from the application's AppStatusStore (no job runs).

    Each status object crosses the Py4J bridge as one JSON string (the
    Jackson mapper Spark's REST API uses), not one call per field."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

    def _get(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def flush(self) -> None:
        """Wait until every posted scheduler event has reached the store."""
        self._bus.waitUntilEmpty(60_000)

    def job_count(self) -> int:
        return self._store.jobsList(None).size()

    def group_job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def all_jobs(self) -> list[int]:
        return sorted(j["jobId"] for j in self._get(self._store.jobsList(None)))

    def job(self, job_id: int) -> dict:
        j = self._get(self._store.job(job_id))
        return {
            "job_id": job_id,
            "group": j.get("jobGroup"),
            "submitted": j["submissionTime"] / 1000 if j.get("submissionTime") else None,
            "stages": [st for st in map(self._stage, j["stageIds"]) if st is not None],
        }

    def _stage(self, stage_id: int) -> dict | None:
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 — stage evicted or never attempted
            return None
        d = self._get(s)
        if d["status"] == "SKIPPED":
            return None
        tasks = self._get(self._store.taskList(stage_id, d["attemptId"], 100_000))
        return {
            "stage_id": stage_id,
            "run_ms": d["executorRunTime"],
            "cpu_ns": d["executorCpuTime"],
            "shuffle_write_bytes": d["shuffleWriteBytes"],
            "shuffle_read_bytes": d["shuffleReadBytes"],
            "spill_bytes": d["memoryBytesSpilled"] + d["diskBytesSpilled"],
            "output_bytes": d["outputBytes"],
            "task_run_ms": [t["taskMetrics"]["executorRunTime"]
                            for t in tasks if t.get("taskMetrics")],
        }


class Tracer:
    """Span recorder; ``install`` wraps the package's eager entry points."""

    def __init__(self, spark, run_id: str | None = None):
        self.sc = spark.sparkContext
        self.store = StatusStore(spark)
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.harvests = 0
        self.harvest_jobs = 0
        self._stack: dict = {}  # thread ident -> open span stack
        self._undo: list = []
        # job ids are sequential: ids below this ran before the tracer
        self._job_floor = self.store.job_count()

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        stack = self._stack.setdefault(threading.get_ident(), [])
        # a span opened on another thread (a streaming micro-batch) hangs
        # under the open root span, without a plan gap
        same_thread = bool(stack)
        parent = stack[-1] if stack else next(
            (s for s in self.spans if s["end"] is None and s["parent"] is None), None)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        sp = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"lssbench:{self.run_id}:{len(self.spans)}",
            "start": time.time(),
            "end": None,
            "attrs": attrs,
            "jobs": [],
            "gap_start": None,
        }
        if same_thread:
            sp["gap_start"] = parent["_last"]
        sp["_last"] = sp["start"]
        self.spans.append(sp)
        stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, "")
            self._harvest(sp)
            if same_thread:
                # the next sibling's plan gap starts after this harvest
                parent["_last"] = time.time()

    def _harvest(self, sp: dict) -> None:
        """Read the span's jobs from the status store; count any job the
        harvest itself started (there must be none)."""
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(HARVEST_GROUP, "metrics harvest")
        try:
            self.store.flush()
            n_before = self.store.job_count()
            for jid in self.store.group_job_ids(sp["group"]):
                if jid not in self.jobs:
                    self.jobs[jid] = self.store.job(jid)
                sp["jobs"].append(jid)
            self.store.flush()
            started = len(self.store.group_job_ids(HARVEST_GROUP))
            started += self.store.job_count() - n_before
            self.harvest_jobs += max(0, started)
            self.harvests += 1
        finally:
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev_group, "")

    def finish(self) -> list[dict]:
        """Split each parent's own jobs into the plan gaps before its
        children; pick up jobs no span's group claimed (e.g. the streaming
        engine's own jobs) into the innermost span that was open when
        they were submitted.  Returns the span list, start order."""
        self.store.flush()
        claimed = set(self.jobs)
        for jid in self.store.all_jobs():
            if jid in claimed or jid < self._job_floor:
                continue
            job = self.store.job(jid)
            if job["submitted"] is None:
                continue
            self.jobs[jid] = job
            owner = None
            for s in self.spans:
                if s["start"] <= job["submitted"] <= (s["end"] or 1e18):
                    owner = s  # later spans are nested deeper or later
            if owner is not None:
                owner["jobs"].append(jid)
        plans = []
        for sp in self.spans:
            if sp["gap_start"] is None or sp["kind"] not in ("commit", "run", "batch"):
                continue
            parent = self.spans[sp["parent"]]
            gap = {
                "id": None,
                "name": f"plan:{sp['name']}",
                "kind": "plan",
                "parent": parent["id"],
                "run_id": self.run_id,
                "group": parent["group"],
                "start": sp["gap_start"],
                "end": sp["start"],
                "attrs": dict(sp["attrs"], for_span=sp["id"]),
                "jobs": [],
            }
            for jid in list(parent["jobs"]):
                sub = self.jobs[jid]["submitted"]
                if sub is not None and gap["start"] <= sub < gap["end"]:
                    parent["jobs"].remove(jid)
                    gap["jobs"].append(jid)
            plans.append(gap)
        for gap in plans:
            gap["id"] = len(self.spans)
            self.spans.append(gap)
        for sp in self.spans:
            sp.pop("_last", None)
            sp["metrics"] = span_metrics([self.jobs[j] for j in sp["jobs"]])
        return self.spans

    # -- wrapping the package's eager entry points ---------------------------

    def _wrap(self, owner, attr: str, make_span):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name, kind, attrs = make_span(*args, **kwargs)
            with tracer.span(name, kind, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from localitysensitivesketch_spark.plans import curation, pipeline
        from localitysensitivesketch_spark.streaming import stream

        def write_span(store, stage, *a, **k):
            return f"commit:{stage}", "commit", {"stage": stage}

        def parquet_span(writer, path, *a, **k):
            aux = str(path).rstrip("/").endswith("partitions.parquet")
            return "parquet_write", "write", {"aux": aux}

        self._wrap(pipeline.CheckpointStore, "write", write_span)
        self._wrap(DataFrameWriter, "parquet", parquet_span)
        self._wrap(pipeline.DedupPipeline, "run",
                   lambda *a, **k: ("DedupPipeline.run", "run", {}))
        self._wrap(curation.CurationPipeline, "run",
                   lambda *a, **k: ("CurationPipeline.run", "run", {}))
        self._wrap(stream, "process_curation_batch",
                   lambda spark, df, batch_id, *a, **k: (
                       "process_curation_batch", "batch", {"batch_id": batch_id}))
        self._wrap(stream, "process_incremental_batch",
                   lambda spark, df, batch_id, *a, **k: (
                       "process_incremental_batch", "batch", {"batch_id": batch_id}))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
