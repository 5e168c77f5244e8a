"""Spans around calls into the package, and Spark job counts per span.

Every timed call runs inside ``Tracer.span(layer, op)``. A span always
records its wall time (a list append). With tracing on, the span also tags
the calling thread's Spark jobs (``setJobGroup`` with the tag
``bench:<workload>:<layer>:<op>``, which Spark also copies into each job's
description), and ``collect`` reads Spark's in-process status store (live
with ``spark.ui.enabled=false``) once, after the timed window, and assigns
each job to a span:

- by its description, when a tag reached it;
- else by its submission time, for jobs started on threads the tag does not
  reach (the streaming query's own thread);
- jobs whose description starts with ``serving `` belong to the SQL
  endpoint's request threads, which tag their own jobs per request.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    op: str
    start: float  # epoch seconds, comparable with job submission times
    end: float
    traced: bool

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class JobRow:
    job_id: int
    description: str
    submitted: float  # epoch seconds
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0  # executor run time summed over tasks
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0


@dataclass
class Tracer:
    spark: object
    workload: str
    enabled: bool
    spans: list = field(default_factory=list)

    def tag(self, layer: str, op: str) -> str:
        return f"bench:{self.workload}:{layer}:{op}"

    @contextmanager
    def span(self, layer: str, op: str):
        sc = self.spark.sparkContext
        traced = self.enabled
        if traced:
            t = self.tag(layer, op)
            sc.setJobGroup(t, t)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, op, start, time.time(), traced))
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def seconds(self, layer: str, op: str | None = None) -> list[float]:
        """Durations of the traced spans of ``layer`` (and ``op``)."""
        return [
            s.seconds for s in self.spans if s.traced and s.layer == layer and (op is None or s.op == op)
        ]

    def collect(self) -> dict[str, list[JobRow]]:
        """Jobs in the status store, grouped by ``<layer>`` (or
        ``serving <path>`` for endpoint requests); jobs outside every
        traced span are dropped."""
        jobs = _store_jobs(self.spark)
        traced = [s for s in self.spans if s.traced]
        prefix = f"bench:{self.workload}:"
        by_layer: dict[str, list[JobRow]] = {}
        for job in jobs:
            if job.description.startswith(prefix):
                key = job.description[len(prefix):].split(":", 1)[0]
            elif job.description.startswith("serving "):
                key = job.description
            else:
                key = next(
                    (s.layer for s in traced if s.start <= job.submitted <= s.end), None
                )
            if key is not None:
                by_layer.setdefault(key, []).append(job)
        return by_layer


def _mapper(jvm):
    m = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    m.registerModule(scala_module)
    return m


def _store_jobs(spark) -> list[JobRow]:
    """Every job the status store holds, with its stages' task, run-time,
    shuffle and spill totals. One JSON round trip per list: attribute access
    through py4j would cost a round trip per field."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = _mapper(jvm)
    raw_jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    empty = jvm.java.util.ArrayList()
    raw_stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0), empty))
    )
    # A retried stage appears once per attempt; the last attempt is the one
    # that produced the output.
    stages: dict[int, dict] = {}
    for s in raw_stages:
        if s["status"] == "SKIPPED":
            continue
        if s["stageId"] not in stages or s["attemptId"] > stages[s["stageId"]]["attemptId"]:
            stages[s["stageId"]] = s
    rows = []
    for j in raw_jobs:
        row = JobRow(j["jobId"], j.get("description") or "", (j.get("submissionTime") or 0) / 1000.0)
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s is None:
                continue
            row.stages += 1
            row.tasks += s["numTasks"]
            row.run_ms += s["executorRunTime"]
            row.shuffle_write_bytes += s["shuffleWriteBytes"]
            row.shuffle_records += s["shuffleWriteRecords"]
            row.spill_bytes += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        rows.append(row)
    return rows
