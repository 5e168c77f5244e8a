#!/usr/bin/env python
"""Per-query structural metrics: Spark jobs, stages, tasks, shuffle bytes.

Wall-clock on this box wanders up to ~3x run-to-run (SURVEY §7.13: three
same-tree quiet twins disagreed per-query by up to 178%), so optimization
decisions in the r14 optimization round are grounded in metrics that are
(near-)deterministic functions of the PLAN, not of box state: number of
jobs (scheduling barriers), number of stages (shuffle boundaries + action
count), shuffle read/write bytes and records, input rows. Wall-clock
best-of-N is reported alongside for the ledger, but plan-shape deltas are
the evidence that survives the noise.

Usage:
  python tools/query_metrics.py QUERY [QUERY ...] [--sf DIR] [--runs N]
  python tools/query_metrics.py --bench          # all bench=True queries

Prints one JSON line per query:
  {"query": ..., "jobs": J, "stages": S, "tasks": T,
   "shuffle_write_mb": MB, "shuffle_records": R, "input_records": I,
   "wall_best": sec, "wall_all": [...]}

Metrics come from the session's in-process status store, which Spark keeps
live with the UI disabled: no UI port, no HTTP.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from demo_otel_parquet_antalya_spark.plans import QUERIES  # noqa: E402
from demo_otel_parquet_antalya_spark.session import get_spark  # noqa: E402


class StatusStore:
    """JSON reads of the driver's status store. One round trip per list:
    attribute access through py4j would cost one per field."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._no_statuses = jvm.java.util.ArrayList()

    def _json(self, value):
        return json.loads(self._mapper.writeValueAsString(value))

    def jobs(self) -> list[dict]:
        """Every retained job, newest first, once the listener bus has
        delivered the events of the jobs already run."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict[int, dict]:
        """Stage id -> its last attempt: a retried stage appears once per
        attempt, and the last one produced the output."""
        raw = self._json(
            self._store.stageList(None, False, False, self._no_quantiles, self._no_statuses)
        )
        out: dict[int, dict] = {}
        for s in raw:
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out


def measure(spark, name: str, sf_dir: str, runs: int) -> dict:
    import gc

    sc = spark.sparkContext
    store = StatusStore(spark)

    walls = []
    jobs = []
    for i in range(runs):
        spark.catalog.clearCache()
        gc.collect()
        try:
            sc._jvm.System.gc()
        except Exception:
            pass
        before = max((j["jobId"] for j in store.jobs()), default=-1)
        sc.setJobDescription(f"qm:{name}:{i}")
        t0 = time.perf_counter()
        QUERIES[name].build(spark, sf_dir).count()
        walls.append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
        if i == 0:
            jobs = [j for j in store.jobs() if j["jobId"] > before]

    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    by_id = store.stages()
    ran = [by_id[s] for s in stage_ids if s in by_id and by_id[s]["status"] != "SKIPPED"]
    return {
        "query": name,
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "stages_skipped": len(stage_ids) - len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "shuffle_write_mb": round(sum(s["shuffleWriteBytes"] for s in ran) / 1e6, 2),
        "shuffle_records": sum(s["shuffleWriteRecords"] for s in ran),
        "input_records": sum(s["inputRecords"] for s in ran),
        "wall_best": min(walls),
        "wall_all": walls,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--bench", action="store_true")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    names = list(args.queries)
    if args.bench:
        names += [n for n in sorted(QUERIES) if QUERIES[n].bench and n not in names]

    spark = get_spark(app_name="query_metrics")
    for name in names:
        print(json.dumps(measure(spark, name, args.sf, args.runs)), flush=True)


if __name__ == "__main__":
    main()
