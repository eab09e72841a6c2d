"""Spark counters read in-process from the JVM status store.

``SparkContext.statusStore()`` is populated by the listener bus even
with ``spark.ui.enabled=false``, so no REST endpoint is needed. Jobs
and stages are fetched in bulk as JSON (one py4j call each) and
attributed afterwards, by job group or by time window.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from perfbench.tracing import covered


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_wall_ms: float = 0.0  # union of job intervals
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: float = 0.0  # shuffle write bytes
    spill_bytes: float = 0.0  # memory + disk spill


class Snapshot:
    def __init__(self, jobs: list[dict], stages: list[dict]):
        self.jobs = {j["jobId"]: j for j in jobs}
        # a stage id can appear in several jobs (skipped re-use);
        # its metrics belong to the attempts that ran
        self.stages: dict[int, list[dict]] = {}
        for s in stages:
            if s.get("status") != "SKIPPED":
                self.stages.setdefault(s["stageId"], []).append(s)

    @property
    def evicted_jobs(self) -> int:
        if not self.jobs:
            return 0
        return max(self.jobs) + 1 - len(self.jobs)

    def select(self, group: str | None = None, since_ms: float | None = None,
               until_ms: float | None = None) -> list[dict]:
        out = []
        for j in self.jobs.values():
            if group is not None and j.get("jobGroup") != group:
                continue
            sub = j.get("submissionTime")
            if since_ms is not None and (sub is None or sub < since_ms):
                continue
            if until_ms is not None and (sub is None or sub > until_ms):
                continue
            out.append(j)
        return out

    def totals(self, jobs: list[dict]) -> Totals:
        t = Totals(jobs=len(jobs))
        seen: set[int] = set()
        intervals = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            if j.get("submissionTime") and j.get("completionTime"):
                intervals.append((j["submissionTime"], j["completionTime"]))
            for sid in j.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                for s in self.stages.get(sid, []):
                    t.stages += 1
                    t.tasks += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                    t.executor_run_ms += s.get("executorRunTime", 0)
                    t.executor_cpu_ms += s.get("executorCpuTime", 0) / 1e6
                    t.gc_ms += s.get("jvmGcTime", 0)
                    t.shuffle_bytes += s.get("shuffleWriteBytes", 0)
                    t.spill_bytes += s.get("memoryBytesSpilled", 0) + s.get(
                        "diskBytesSpilled", 0
                    )
        t.job_wall_ms = covered(intervals)
        return t


class StatusCounters:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = spark._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._jvm = jvm

    def snapshot(self) -> Snapshot:
        # the store is fed asynchronously; let it catch up first
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(
                    None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList()
                )
            )
        )
        return Snapshot(jobs, stages)
