"""Traced execution: spans around each layer call plus Spark's own counters.

The benchmark measures the engine from outside. Around every key execution
it records spans for the calls into each layer:

- ``registry.build``: the ``QUERIES[key](spark, dir)`` call, with the
  Spark job group set to ``<key>/build``, so eager build jobs are attributed;
- ``spark.plan``: forcing ``queryExecution().executedPlan()``, job group
  ``<key>/exec``;
- ``spark.exec``: the ``collect()``, job group ``<key>/exec``.

All spans of one key execution carry the same ``execution`` id (the id of
its root ``key`` span), and each child names its parent. After
the execution it reads Spark's status store for the jobs of both groups (and
of the streaming queries the key started, which run under their own group),
and a streaming listener counts micro-batches. Everything is kept in memory
and written out by :meth:`Tracer.write` when the run ends.
"""

from __future__ import annotations

import json
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


class StreamCounter(StreamingQueryListener):
    """Counts streaming runs, micro-batches, input rows and batch time."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.run_ids: list[str] = []
        self.batches = 0
        self.input_rows = 0
        self.batch_ms = 0

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches += 1
            self.input_rows += int(p.numInputRows)
            self.batch_ms += int(p.durationMs.get("triggerExecution", 0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> tuple[int, int, int, int]:
        with self._lock:
            return len(self.run_ids), self.batches, self.input_rows, self.batch_ms

    def runs_since(self, n: int) -> list[str]:
        with self._lock:
            return self.run_ids[n:]


def storage(spark) -> tuple[int, float]:
    """(persisted RDDs, MB they hold in memory and on disk) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(r.memSize() + r.diskSize() for r in infos) / MB


class Tracer:
    """Runs keys under job groups and turns spans plus status into counters."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.streams = StreamCounter()
        spark.streams.addListener(self.streams)
        self.spans: list[dict] = []
        self._next_id = 0
        # a stage reused by a later job (a memo hit on a shuffled relation)
        # keeps its id and COMPLETE status: count its metrics once, for the
        # key that ran it
        self._counted: set[int] = set()
        # job groups repeat across passes: each job is attributed once
        self._attributed: set[int] = set()
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())

    def _gc_ms(self) -> int:
        """Total collection time of the one local-mode JVM that runs every task."""
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def _span(self, execution, layer, key, it, phase, start, end, parent=None) -> int:
        self._next_id += 1
        self.spans.append(
            {
                "execution": execution,
                "id": self._next_id,
                "parent": parent,
                "layer": layer,
                "key": key,
                "iteration": it,
                "phase": phase,
                "start": start,
                "end": end,
            }
        )
        return self._next_id

    def execute(self, queries, key: str, data_dir: str, it: int, phase: str):
        """Run one key; return ``(columns, rows, counters)``."""
        sc = self.sc
        streams_before = self.streams.snapshot()
        gc0 = self._gc_ms()
        t0 = time.time()
        try:
            sc.setJobGroup(f"{key}/build", f"perfbench {phase} build {key}")
            df = queries[key](self.spark, data_dir)
            t1 = time.time()
            sc.setJobGroup(f"{key}/exec", f"perfbench {phase} exec {key}")
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            rows = df.collect()
            t3 = time.time()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        gc_ms = self._gc_ms() - gc0
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        root = self._span(self._next_id + 1, "key", key, it, phase, t0, t3)
        self._span(root, "registry.build", key, it, phase, t0, t1, root)
        self._span(root, "spark.plan", key, it, phase, t1, t2, root)
        self._span(root, "spark.exec", key, it, phase, t2, t3, root)

        new_runs = self.streams.runs_since(streams_before[0])
        build_jobs = self._jobs([f"{key}/build", *new_runs])
        exec_jobs = self._jobs([f"{key}/exec"])
        build = self._stage_totals(build_jobs)
        ex = self._stage_totals(exec_jobs)
        streams_after = self.streams.snapshot()
        n_rdds, cached_mb = storage(self.spark)
        c = {
            "registry.build_s": t1 - t0,
            "registry.build_jobs": len(build_jobs),
            "registry.build_tasks": build["tasks"],
            "registry.build_gap_s": (t1 - t0) - self._covered(build_jobs, t0, t1),
            "spark.plan_s": t2 - t1,
            "spark.exec_s": t3 - t2,
            "spark.jobs": len(exec_jobs),
            "spark.stages": ex["stages"],
            "spark.tasks": ex["tasks"],
            "spark.executor_run_s": ex["run_ms"] / 1e3,
            "spark.executor_cpu_s": ex["cpu_ns"] / 1e9,
            "spark.gc_s": gc_ms / 1e3,
            "spark.input_mb": ex["input"] / MB,
            "spark.shuffle_read_mb": ex["shuffle_read"] / MB,
            "spark.shuffle_write_mb": ex["shuffle_write"] / MB,
            "spark.spill_mb": ex["spill"] / MB,
            "spark.result_rows": len(rows),
            "pipeline.persisted_rdds": n_rdds,
            "pipeline.cached_mb": cached_mb,
            "sources.output_mb": (build["output"] + ex["output"]) / MB,
            "sources.output_rows": build["output_rows"] + ex["output_rows"],
            "sources.input_mb": (build["input"] + ex["input"]) / MB,
            "streaming.batches": streams_after[1] - streams_before[1],
            "streaming.input_rows": streams_after[2] - streams_before[2],
            "streaming.batch_s": (streams_after[3] - streams_before[3]) / 1e3,
        }
        return df.columns, rows, c

    def _jobs(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        jobs = {j for g in groups for j in tracker.getJobIdsForGroup(g)} - self._attributed
        self._attributed |= jobs
        return sorted(jobs)

    def _covered(self, jobs: list[int], t0: float, t1: float) -> float:
        """Seconds of [t0, t1] during which at least one of ``jobs`` ran."""
        store = self._jsc.statusStore()
        spans = []
        for j in jobs:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                a = max(t0, sub.get().getTime() / 1e3)
                b = min(t1, done.get().getTime() / 1e3)
                if b > a:
                    spans.append((a, b))
        covered, end = 0.0, t0
        for a, b in sorted(spans):
            if b > end:
                covered += b - max(a, end)
                end = b
        return covered

    def _stage_totals(self, jobs: list[int]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        tot = dict.fromkeys(
            (
                "stages", "tasks", "run_ms", "cpu_ns", "input", "output",
                "output_rows", "shuffle_read", "shuffle_write", "spill",
            ),
            0,
        )
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                if s in self._counted:
                    continue
                try:
                    st = store.lastStageAttempt(s)
                except Py4JJavaError:  # never submitted, or evicted from the store
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                self._counted.add(s)
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ns"] += st.executorCpuTime()
                tot["input"] += st.inputBytes()
                tot["output"] += st.outputBytes()
                tot["output_rows"] += st.outputRecords()
                tot["shuffle_read"] += st.shuffleReadBytes()
                tot["shuffle_write"] += st.shuffleWriteBytes()
                tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
