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

Runs ``--runs`` passes over the named queries, in the order given, as a
bench pass does: a query's later runs meet the generated-class cache that
the whole pass left behind, not only its own. Then prints one JSON line per
query:
  {"query": ..., "jobs": J, "stages": S, "tasks": T,
   "shuffle_write_mb": MB, "shuffle_records": R, "input_records": I,
   "codegen_compiles": C, "codegen_ms": MS,
   "wall_best": sec, "wall_all": [...]}

Jobs, stages, tasks, shuffle and input come from the first run.
``codegen_compiles`` is how many classes Janino compiled during the last
run, build included, and ``codegen_ms`` how long those compiles took in
total: deltas of the JVM-global ``CodegenMetrics.METRIC_COMPILATION_TIME``
histogram. A warm run that reuses every cached class reads 0 and 0.
``codegen_ms`` is null when the histogram's sample (1028 values) no longer
holds every compile of the run, which takes over a thousand compiles in
the JVM.

Metrics come from the session's in-process status store, which Spark keeps
live with the UI disabled: no UI port, no HTTP.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

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


class Codegen:
    """Janino compiles since a mark, from the JVM-global codegen histogram:
    its count is exact, and its sampled values, read in one JSON round
    trip, give the new compiles' times as the multiset difference."""

    def __init__(self, spark, store: StatusStore):
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._hist = metrics.METRIC_COMPILATION_TIME()
        self._json = store._json

    def mark(self) -> tuple[int, Counter]:
        return self._hist.getCount(), Counter(self._json(self._hist.getSnapshot().getValues()))

    def since(self, mark: tuple[int, Counter]) -> tuple[int, int | None]:
        """(compiles, their total ms) since ``mark``; the ms are None when
        the sample has dropped some of the new compiles."""
        count, values = mark
        n = self._hist.getCount() - count
        new = Counter(self._json(self._hist.getSnapshot().getValues())) - values
        return n, sum(new.elements()) if new.total() == n else None


def _plan_counts(store: StatusStore, after_job: int) -> dict:
    """Jobs, stages, tasks, shuffle and input of the jobs newer than
    ``after_job``."""
    jobs = [j for j in store.jobs() if j["jobId"] > after_job]
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    by_id = store.stages()
    ran = [by_id[s] for s in stage_ids if s in by_id and by_id[s]["status"] != "SKIPPED"]
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "stages_skipped": len(stage_ids) - len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "shuffle_write_mb": round(sum(s["shuffleWriteBytes"] for s in ran) / 1e6, 2),
        "shuffle_records": sum(s["shuffleWriteRecords"] for s in ran),
        "input_records": sum(s["inputRecords"] for s in ran),
    }


def measure(spark, names: list[str], sf_dir: str, runs: int) -> list[dict]:
    """``runs`` passes over ``names``; one result object per query."""
    import gc

    sc = spark.sparkContext
    store = StatusStore(spark)
    codegen = Codegen(spark, store)
    out = {name: {"query": name} for name in names}
    walls = {name: [] for name in names}
    for i in range(runs):
        for name in names:
            spark.catalog.clearCache()
            gc.collect()
            try:
                sc._jvm.System.gc()
            except Exception:
                pass
            before = max((j["jobId"] for j in store.jobs()), default=-1)
            mark = codegen.mark()
            sc.setJobDescription(f"qm:{name}:{i}")
            t0 = time.perf_counter()
            QUERIES[name].build(spark, sf_dir).count()
            walls[name].append(round(time.perf_counter() - t0, 3))
            sc.setJobDescription(None)
            compiles, ms = codegen.since(mark)
            if i == 0:
                out[name].update(_plan_counts(store, before))
            out[name].update(codegen_compiles=compiles, codegen_ms=ms)
    for name in names:
        out[name].update(wall_best=min(walls[name]), wall_all=walls[name])
    return list(out.values())


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
    for row in measure(spark, names, args.sf, args.runs):
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
