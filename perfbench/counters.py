"""Spark work counters read from Spark's status store.

Counters are keyed by the job-id range of one unit: the benchmark runs one
unit at a time, so every job with an id above the boundary taken before the
unit belongs to it. Job groups would miss the runner's pool threads (they do
not inherit the group), and diffing store totals breaks once the store rolls
over at ``spark.ui.retainedStages``.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter
from dataclasses import dataclass, field

MB = 1024 * 1024
_PACKAGE_SITE = re.compile(r"phabricator_etl_spark/(?:\w+/)*(\w+)\.py:\d+")


@dataclass
class Work:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    jobs_by_module: Counter = field(default_factory=Counter)

    @property
    def jobs_unattributed(self) -> int:
        return self.jobs - sum(self.jobs_by_module.values())


def module_of(call_site: str) -> str | None:
    """Package module a job's call site points into ("graph" for
    ``toPandas at .../operators/graph.py:147``); None when the call site
    is a JVM frame, as for AQE stage submissions and writer jobs."""
    m = _PACKAGE_SITE.search(call_site or "")
    return m.group(1) if m else None


class StatusReader:
    """Reads jobs and stages from the status store as JSON: one py4j call
    per list instead of one per field."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = spark._jvm
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        scala_module = jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_module.getField("MODULE$").get(None))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _jobs(self) -> list[dict]:
        # the listener bus is asynchronous: drain it so every job of the
        # finished unit, and every task of its stages, is in the store
        self._bus.waitUntilEmpty()
        return json.loads(self._json.writeValueAsString(self._store.jobsList(None)))

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def work_since(self, last_job_id: int) -> Work:
        """Work of every job with an id above ``last_job_id``."""
        jobs = [j for j in self._jobs() if j["jobId"] > last_job_id]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        # Spark 4's stageList takes all five arguments through py4j
        stages = json.loads(self._json.writeValueAsString(
            self._store.stageList(None, False, False, self._no_quantiles, None)))
        w = Work(jobs=len(jobs))
        for j in jobs:
            module = module_of(j["name"])
            if module:
                w.jobs_by_module[module] += 1
        for s in stages:
            if s["stageId"] not in stage_ids or s["numCompleteTasks"] == 0:
                continue  # another unit's stage, or skipped (its shuffle was reused)
            w.stages += 1
            w.tasks += s["numCompleteTasks"]
            w.executor_run_s += s["executorRunTime"] / 1e3
            w.executor_cpu_s += s["executorCpuTime"] / 1e9
            w.gc_s += s["jvmGcTime"] / 1e3
            w.shuffle_read_mb += s["shuffleReadBytes"] / MB
            w.shuffle_write_mb += s["shuffleWriteBytes"] / MB
            w.spill_mb += s["diskBytesSpilled"] / MB
        return w


def live_heap_mb(spark) -> float:
    """JVM heap in use after full GCs, once it stops falling. Python proxies
    are collected first so the JVM objects they pin can go; the context
    cleaner then frees the blocks and broadcasts of unreachable plans
    asynchronously, so one GC right after a unit reads several times the
    settled value."""
    import gc

    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    while len(readings) < 12:
        gc.collect()
        mem.gc()
        readings.append(mem.getHeapMemoryUsage().getUsed() / MB)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
        time.sleep(0.3)
    return readings[-1]
