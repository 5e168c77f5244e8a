"""The three workloads. Each takes the run's Context, does its untimed set-up
(inputs from the seed, warm-up), calls ``ctx.start_timing()``, measures for
``ctx.seconds`` and returns ``work_s``, the seconds of its unit of work as a
median (README.md defines each). Per-layer figures go into ``ctx.layers``,
workload figures into ``ctx.detail``.

Layers are timed from outside, around calls into the package's public
functions, each inside ``ctx.tracer.span(layer, op)``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import http.client
import json
import os
import threading
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np

import common
import datagen

MIB = 1024.0 * 1024.0

# --------------------------------------------------------------------------
# suite: warm passes over a fixed set of the bench queries
# --------------------------------------------------------------------------

# A subset of the bench=True queries, sorted. The full 23 take ~40 s cold and
# ~20 s per warm pass on 4 cores, more than one run can afford. This set
# keeps aggregation, joins, text masking, time bucketing and one
# loop-driven graph operator (pagerank's power iteration), whose eager
# checkpoints dominate build time.
SUITE = (
    "agg_pricing_summary",
    "graph_pagerank_trade",
    "join_revenue_by_region",
    "log_template_mining",
    "time_bucket_30s_series",
    "tpch_q3_shipping_priority",
)
LOOP_QUERIES = frozenset({"graph_pagerank_trade"})
# Pass times keep falling for several passes as the JVM compiles the driver's
# hot paths; the first pass is ~3x a warm one.
SUITE_WARMUP_PASSES = 2
# work_s takes each query's median over the first SUITE_PASSES timed passes,
# so one slow query in one pass does not move it, and every run counts the
# same passes of the warm-up curve: when the count followed the clock, a run
# on a slow host counted only its first (slower) four passes and a fast one
# five, which widened the spread between runs.
SUITE_PASSES = 5


@contextmanager
def _duckdb(data_dir: str):
    """A DuckDB connection with a view per generated table."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in datagen.TABLE_ROWS:
            path = os.path.join(data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        yield con
    finally:
        con.close()


def _oracle_row_counts(data_dir: str, specs) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the same parquet files."""
    with _duckdb(data_dir) as con:
        return {s.name: len(con.sql(s.oracle).fetchall()) for s in specs}


def _suite_pass(ctx, specs, expected, data_dir) -> dict[str, float]:
    """Build, plan and count each query once; returns per-layer seconds and
    each query's seconds under its name."""
    tr = ctx.tracer
    out = {"build": 0.0, "build_loops": 0.0, "plan": 0.0, "exec": 0.0, "total": 0.0}
    for spec in specs:
        t0 = time.perf_counter()
        try:
            with tr.span("operators", spec.name):
                df = spec.build(ctx.spark, data_dir)
            t1 = time.perf_counter()
            with tr.span("catalyst", spec.name):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("exec", spec.name):
                n = df.count()
            t3 = time.perf_counter()
        except Exception:
            ctx.fail(spec.name)
            continue
        ctx.check(n == expected[spec.name], f"{spec.name}: {n} rows, oracle {expected[spec.name]}")
        out["build"] += t1 - t0
        if spec.name in LOOP_QUERIES:
            out["build_loops"] += t1 - t0
        out["plan"] += t2 - t1
        out["exec"] += t3 - t2
        out["total"] += t3 - t0
        out[spec.name] = t3 - t0
    return out


def _per_query_median_sum(passes: list[dict]) -> float:
    """Sum over queries of each query's median seconds across passes."""
    return sum(common.median(p[name] for p in passes if name in p) for name in SUITE)


def suite(ctx) -> float:
    from demo_otel_parquet_antalya_spark.plans import QUERIES

    data_dir = datagen.write_tables(os.path.join(ctx.work, "tables"), ctx.seed)
    specs = [QUERIES[n] for n in SUITE]
    expected = _oracle_row_counts(data_dir, specs)
    ctx.detail["warmup_s"] = [
        _suite_pass(ctx, specs, expected, data_dir)["total"] for _ in range(SUITE_WARMUP_PASSES)
    ]

    passes = {False: [], True: []}
    t_end = ctx.start_timing() + ctx.seconds
    i = 0
    while time.perf_counter() < t_end or len(passes[ctx.trace]) < SUITE_PASSES:
        ctx.tracer.enabled = ctx.traced(i)
        passes[ctx.tracer.enabled].append(_suite_pass(ctx, specs, expected, data_dir))
        i += 1
    ctx.tracer.enabled = False
    untraced = [p["total"] for p in passes[False]]
    work_s = _per_query_median_sum(passes[False][:SUITE_PASSES])
    ctx.detail.update({"work_s": work_s, "passes": len(untraced), "counted_passes": SUITE_PASSES,
                       "queries": list(SUITE), "samples_s": untraced})

    traced = passes[True]
    if traced:
        ctx.layers["operators.build_s"] = common.median(p["build"] for p in traced)
        ctx.layers["operators.build_s.loops"] = common.median(p["build_loops"] for p in traced)
        ctx.layers["catalyst.plan_s"] = common.median(p["plan"] for p in traced)
        ctx.layers["exec.s"] = common.median(p["exec"] for p in traced)
        overhead = _per_query_median_sum(traced[:SUITE_PASSES]) - work_s
        ctx.layers["trace.overhead_pct"] = 100.0 * overhead / work_s
        ctx.detail["traced_passes"] = len(traced)
    return work_s


# --------------------------------------------------------------------------
# ingest: closed loop of POST -> run_ingest_once -> sync -> count
# --------------------------------------------------------------------------

PAYLOADS_PER_CYCLE = len(datagen.SERVICES)  # one per service
RECORDS_PER_PAYLOAD = 6000
INGEST_WARMUP_CYCLES = 2
# work_s is the median of the first INGEST_CYCLES timed cycles, for the same
# reason as SUITE_PASSES: read-back cost grows with the files written, so
# every run counts the same cycles.
INGEST_CYCLES = 7
_LOG_EPOCH_NS = 1_767_225_600 * 10**9  # 2026-01-01T00:00:00Z


class _Feed:
    """Seeded OTLP payloads, one cycle at a time, with the per-service
    totals they carry."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.cycle = 0
        self.per_service = dict.fromkeys(datagen.SERVICES, 0)

    def next_cycle(self) -> list[bytes]:
        base = _LOG_EPOCH_NS + self.cycle * 60 * 10**9  # one minute of logs per cycle
        self.cycle += 1
        out = []
        for service in datagen.SERVICES:
            times = base + np.sort(self.rng.integers(0, 60 * 10**9, RECORDS_PER_PAYLOAD))
            out.append(datagen.otlp_payload(self.rng, service, times))
            self.per_service[service] += RECORDS_PER_PAYLOAD
        return out

    @property
    def total(self) -> int:
        return sum(self.per_service.values())


def _post(conn: http.client.HTTPConnection, body: bytes) -> int:
    conn.request("POST", "/v1/logs", body=body, headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    resp.read()
    return resp.status


def ingest(ctx) -> float:
    from demo_otel_parquet_antalya_spark.sources.registry import LogTableRegistry
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once
    from demo_otel_parquet_antalya_spark.streaming.receiver import OTLPReceiver

    landing = os.path.join(ctx.work, "landing")
    warehouse = os.path.join(ctx.work, "warehouse")
    ckpt = os.path.join(ctx.work, "ckpt")
    feed = _Feed(ctx.seed)
    receiver = OTLPReceiver(landing).start()
    registry = LogTableRegistry(ctx.spark, warehouse, state_path=os.path.join(ctx.work, "registry.txt"))
    conn = http.client.HTTPConnection("127.0.0.1", receiver.port, timeout=60)
    tr = ctx.tracer
    cycles = {False: [], True: []}

    def cycle() -> dict | None:
        payloads = feed.next_cycle()
        t0 = time.perf_counter()
        posts = []
        try:
            for body in payloads:
                p0 = time.perf_counter()
                with tr.span("receiver", "post"):
                    status = _post(conn, body)
                posts.append(time.perf_counter() - p0)
                if not ctx.check(status == 200, f"POST /v1/logs answered {status}"):
                    return None
            acked = time.perf_counter()
            with tr.span("ingest", "run_ingest_once"):
                run_ingest_once(ctx.spark, landing, warehouse, ckpt)
            b1 = time.perf_counter()
            with tr.span("registry", "sync"):
                new = registry.sync()
            s1 = time.perf_counter()
            with tr.span("registry", "read"):
                n = registry.table().count()
            done = time.perf_counter()
        except Exception:
            ctx.fail(f"ingest cycle {feed.cycle}")
            return None
        if not ctx.check(n == feed.total, f"registry count {n}, posted {feed.total}"):
            return None
        return {"cycle": done - t0, "fresh": done - acked, "posts": posts, "batch": b1 - acked,
                "sync": s1 - b1, "read": done - s1, "files": len(new)}

    try:
        for _ in range(INGEST_WARMUP_CYCLES):
            cycle()
        t_end = ctx.start_timing() + ctx.seconds
        logs0 = feed.total
        i = 0
        ran = {False: 0, True: 0}  # cycles run, also those that failed
        while time.perf_counter() < t_end or ran[ctx.trace] < INGEST_CYCLES:
            tr.enabled = ctx.traced(i)
            c = cycle()
            ran[tr.enabled] += 1
            if c is not None:
                cycles[tr.enabled].append(c)
            i += 1
        tr.enabled = False
        elapsed = time.perf_counter() - ctx.timing_start
        logs_timed = feed.total - logs0

        try:
            got = dict(registry.table().groupBy("service_name").count().collect())
        except Exception:
            ctx.fail("per-service count")
        else:
            ctx.check(got == feed.per_service, f"per-service counts {got}, posted {feed.per_service}")
        files = registry.registered()
        warehouse_bytes = sum(os.path.getsize(f) for f in files)
    finally:
        conn.close()
        receiver.stop()

    untraced = cycles[False]
    counted = untraced[:INGEST_CYCLES]
    work_s = common.median(c["cycle"] for c in counted)
    fresh_ms = [1000 * c["fresh"] for c in counted]
    ctx.detail.update({
        "work_s": work_s,
        "cycles": len(untraced),
        "counted_cycles": len(counted),
        "samples_s": [c["cycle"] for c in untraced],
        "logs_per_cycle": PAYLOADS_PER_CYCLE * RECORDS_PER_PAYLOAD,
        "logs_per_s": logs_timed / elapsed,
        "fresh_p50_ms": common.median(fresh_ms),
        **_tail_detail("fresh_tail", fresh_ms),
    })

    traced = cycles[True]
    if traced:
        post_ms = [1000 * s for c in traced for s in c["posts"]]
        ctx.layers["receiver.post_p50_ms"] = common.median(post_ms)
        ctx.layers["receiver.post_tail_ms"] = _tail_or_max(post_ms)
        ctx.layers["ingest.batch_s"] = common.median(c["batch"] for c in traced)
        ctx.layers["ingest.files_per_batch"] = common.median(c["files"] for c in traced)
        ctx.layers["registry.sync_ms"] = 1000 * common.median(c["sync"] for c in traced)
        ctx.layers["registry.read_s"] = common.median(c["read"] for c in traced)
        overhead = common.median(c["cycle"] for c in traced[:INGEST_CYCLES]) - work_s
        ctx.layers["trace.overhead_pct"] = 100.0 * overhead / work_s
        ctx.detail["traced_cycles"] = len(traced)
    ctx.layers["ingest.bytes_per_log"] = warehouse_bytes / feed.total
    ctx.layers["registry.files"] = len(files)
    return work_s


# --------------------------------------------------------------------------
# serving: open-loop dashboard refreshes and ad-hoc SQL
# --------------------------------------------------------------------------

SERVING_LOGS = 50_000
SERVING_HOURS = 4
SERVING_PAYLOAD_RECORDS = 2500
WINDOW_MINUTES = 15
ROLLUP_DIMS = ("service_name", "severity_text")
# Dashboard refreshes per second, and ad-hoc queries per second. A refresh
# takes ~0.9 s on 4 cores (~1.2 s when the host is slow), a query ~0.2 s.
RATE_PER_S = 0.5
# Each query is due this share of a period after a refresh: after the
# slowest refresh ends and before the next one starts, so the two streams
# do not contend and a slow host does not make the query slower twice.
QUERY_OFFSET = 0.65
SERVING_WARMUP_ROUNDS = 6
HEALTH_PROBES = 30

# Ad-hoc SQL over the TPC-H views; {d} is a seeded date, {p} a seeded price.
ADHOC_SQL = (
    "SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE o_orderdate >= TIMESTAMP '{d}' "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total FROM customer "
    "JOIN orders ON c_custkey = o_custkey WHERE o_totalprice > {p} GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty FROM lineitem "
    "WHERE l_shipdate <= TIMESTAMP '{d}' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT n_name, COUNT(*) AS n FROM supplier JOIN nation ON s_nationkey = n_nationkey "
    "GROUP BY n_name ORDER BY n DESC, n_name LIMIT 10",
)


def _adhoc_queries(rng: np.random.Generator) -> list[str]:
    day = dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(200, 2200)))
    price = round(float(rng.uniform(50_000, 450_000)), 2)
    return [q.format(d=f"{day} 00:00:00", p=price) for q in ADHOC_SQL]


def _normalize(rows) -> list[tuple]:
    """Rows as comparable tuples, with floats rounded to 6 places."""
    return [tuple(round(float(v), 6) if isinstance(v, (float, decimal.Decimal)) else v for v in row) for row in rows]


def _duckdb_answers(data_dir: str, sqls: list[str]) -> dict[str, list[tuple]]:
    with _duckdb(data_dir) as con:
        return {q: _normalize(con.sql(q).fetchall()) for q in sqls}


def _write_logs(ctx, landing: str) -> tuple[np.ndarray, int]:
    """Land SERVING_LOGS seeded records spread over SERVING_HOURS; returns
    their timestamps in microseconds, as the warehouse stores them, and the
    newest one."""
    from demo_otel_parquet_antalya_spark.streaming.receiver import write_landing_file

    rng = np.random.default_rng(ctx.seed + 1)
    span_ns = SERVING_HOURS * 3600 * 10**9
    times = _LOG_EPOCH_NS + np.sort(rng.integers(0, span_ns, SERVING_LOGS))
    n_payloads = SERVING_LOGS // SERVING_PAYLOAD_RECORDS
    for k, chunk in enumerate(np.array_split(times, n_payloads)):
        service = datagen.SERVICES[k % len(datagen.SERVICES)]
        write_landing_file(landing, datagen.otlp_payload(rng, service, chunk))
    us = times // 1000
    return us, int(us.max())


def _iso(us: int) -> str:
    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class _Client:
    """HTTP requests against the endpoint, one connection per request."""

    def __init__(self, port: int):
        self.port = port

    def call(self, method: str, path: str, body: dict | None = None) -> tuple[int, dict]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            data = json.dumps(body).encode() if body is not None else None
            conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read() or b"{}")
        finally:
            conn.close()


def serving(ctx) -> float:
    from demo_otel_parquet_antalya_spark.schema import PARTITION_COLUMNS
    from demo_otel_parquet_antalya_spark.serving import start_sql_endpoint
    from demo_otel_parquet_antalya_spark.sources.compaction import compact
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once
    from demo_otel_parquet_antalya_spark.streaming.rollup import incremental_rollup

    spark, tr, w = ctx.spark, ctx.tracer, ctx.work
    tr.enabled = ctx.trace  # set-up runs once; trace all of it in a traced run
    data_dir = datagen.write_tables(os.path.join(w, "tables"), ctx.seed)
    warehouse = os.path.join(w, "warehouse")
    rollup = os.path.join(w, "rollup")
    landing = os.path.join(w, "landing")
    ts_us, newest = _write_logs(ctx, landing)
    with tr.span("ingest", "run_ingest_once"):
        run_ingest_once(spark, landing, warehouse, os.path.join(w, "ckpt"))
    ingest_files = sum(1 for _, _, fs in os.walk(warehouse) for f in fs if f.endswith(".parquet"))
    with tr.span("compaction", "compact"):
        compact(spark, warehouse, list(PARTITION_COLUMNS), finalize_streaming=True)
    with tr.span("rollup", "incremental_rollup"):
        schema = spark.read.parquet(warehouse).schema
        incremental_rollup(
            spark.readStream.schema(schema).parquet(warehouse), rollup, os.path.join(w, "rollup_ckpt"),
            bucket="30 seconds", ts_col="timestamp", dim_cols=ROLLUP_DIMS,
        ).awaitTermination()
    tr.enabled = False
    warehouse_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(warehouse) for f in fs if f.endswith(".parquet")
    )
    ctx.layers["ingest.batch_s"] = common.median(s.seconds for s in tr.spans if s.layer == "ingest")
    ctx.layers["ingest.files_per_batch"] = ingest_files
    ctx.layers["ingest.bytes_per_log"] = warehouse_bytes / SERVING_LOGS
    ctx.layers["compaction.s"] = common.median(s.seconds for s in tr.spans if s.layer == "compaction")
    ctx.layers["rollup.build_s"] = common.median(s.seconds for s in tr.spans if s.layer == "rollup")

    server = start_sql_endpoint(
        spark, data_dir, logs_dir=warehouse, rollup_dir=rollup, rollup_dims=ROLLUP_DIMS, request_timeout_s=120.0
    )
    client = _Client(server.server_address[1])
    start_us = newest - WINDOW_MINUTES * 60 * 10**6
    start_us -= start_us % 10**6  # whole seconds, as a dashboard sends them
    window_rows = int(np.count_nonzero(ts_us >= start_us))
    window = urllib.parse.urlencode({"start": _iso(start_us), "end": _iso(newest + 10**6)})
    panels = {
        "q5": f"/panels/q5_timeseries?interval=30&{window}",
        "q6": f"/panels/q6_log_panel?limit=1000&{window}",
    }
    sqls = _adhoc_queries(np.random.default_rng(ctx.seed + 2))
    answers = _duckdb_answers(data_dir, sqls)
    routes: dict[str, int] = {}
    lock = threading.Lock()

    def request(kind: str, k: int) -> bool:
        """Send one request and check its answer; ``k`` counts the requests
        of its stream, so the ad-hoc queries take each shape in turn."""
        if kind == "query":
            sql = sqls[k % len(sqls)]
            status, body = client.call("POST", "/query", {"sql": sql})
            rows = _normalize(body.get("rows", [])) if status == 200 else None
            return ctx.check(status == 200 and rows == answers[sql], f"/query {sql!r}: {status} {body.get('error', '')}")
        status, body = client.call("GET", panels[kind])
        if status != 200:
            return ctx.check(False, f"{panels[kind]} answered {status}: {body.get('error', '')}")
        with lock:
            routes[body.get("source")] = routes.get(body.get("source"), 0) + 1
        if kind == "q5":
            col = body["columns"].index("value")
            total = sum(r[col] for r in body["rows"])
            return ctx.check(total == window_rows, f"q5 bucket sum {total}, window rows {window_rows}")
        want = min(1000, window_rows)
        return ctx.check(body["row_count"] == want, f"q6 rows {body['row_count']}, expected {want}")

    kinds = ("q5", "q6", "query")
    records: dict[str, list[tuple[int, common.OpenLoopRecord]]] = {k: [] for k in (*kinds, "health")}

    def send(kind: str, k: int, due: float) -> None:
        sent = time.perf_counter()
        try:
            ok = request(kind, k)
        except Exception:
            ctx.fail(f"{kind} request")
            ok = False
        rec = common.OpenLoopRecord(due, sent, time.perf_counter(), ok)
        with lock:
            records[kind].append((k, rec))

    try:
        def warm_queries(k: int) -> None:
            for j in range(len(sqls)):
                send("query", k * len(sqls) + j, time.perf_counter())

        with ThreadPoolExecutor(max_workers=len(kinds)) as pool:
            # warm every route: rounds of both panels and every query shape,
            # closed loop
            w0 = time.perf_counter()
            for k in range(SERVING_WARMUP_ROUNDS):
                now = time.perf_counter()
                warm = [pool.submit(send, kind, k, now) for kind in ("q5", "q6")]
                for f in [*warm, pool.submit(warm_queries, k)]:
                    f.result()
            for v in records.values():
                v.clear()
            ctx.detail["warmup_s"] = time.perf_counter() - w0
            # Open loop: a dashboard refresh (both panels, concurrently) every
            # 1/RATE_PER_S seconds and an ad-hoc query QUERY_OFFSET of a
            # period after each. The schedule never waits for answers; each
            # request is timed from its due time.
            t0 = ctx.start_timing()
            dues = common.schedule(t0, RATE_PER_S, ctx.seconds)
            events = sorted(
                [(due, k, ("q5", "q6")) for k, due in enumerate(dues)]
                + [(due + QUERY_OFFSET / RATE_PER_S, k, ("query",)) for k, due in enumerate(dues)]
            )
            futures = []
            for due, k, due_kinds in events:
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                futures += [pool.submit(send, kind, k, due) for kind in due_kinds]
            for f in futures:
                f.result()
        if ctx.trace:
            for _ in range(HEALTH_PROBES):
                h0 = time.perf_counter()
                status, _ = client.call("GET", "/health")
                records["health"].append((0, common.OpenLoopRecord(h0, h0, time.perf_counter(), status == 200)))
    finally:
        server.shutdown()
        server.server_close()

    def lat_ms(kind):
        return [1000 * r.latency for _, r in records[kind]]

    # a refresh is done when its slower panel is
    refresh: dict[int, float] = {}
    for kind in ("q5", "q6"):
        for k, r in records[kind]:
            refresh[k] = max(refresh.get(k, 0.0), r.latency)
    dash_ms = [1000 * refresh[k] for k in sorted(refresh)]
    query_ms = lat_ms("query")
    # Never a percentile across different requests: the query figure is the
    # mean over shapes of each shape's own median, and work_s adds the
    # median refresh to it.
    shapes = [[1000 * r.latency for k, r in records["query"] if k % len(sqls) == j] for j in range(len(sqls))]
    shapes = [v for v in shapes if v]
    query_p50_ms = sum(common.median(v) for v in shapes) / max(1, len(shapes))
    work_s = (common.median(dash_ms) + query_p50_ms) / 1000.0
    ctx.detail.update({
        "work_s": work_s,
        "refreshes": len(dash_ms),
        "queries": len(query_ms),
        "rate_per_s": RATE_PER_S,
        "window_rows": window_rows,
        "dash_samples_ms": dash_ms,
        "query_samples_ms": query_ms,
        "dash_p50_ms": common.median(dash_ms),
        **_tail_detail("dash_tail", dash_ms),
        "query_p50_ms": query_p50_ms,
        **_tail_detail("query_tail", query_ms),
    })
    late = [r.late for kind in kinds for _, r in records[kind]]
    ctx.layers["serving.sender_late_ms"] = 1000 * max(late)
    ctx.layers["serving.q5_p50_ms"] = common.median(lat_ms("q5"))
    ctx.layers["serving.q6_p50_ms"] = common.median(lat_ms("q6"))
    if records["health"]:
        ctx.layers["serving.health_p50_ms"] = common.median(lat_ms("health"))
    panel_answers = sum(routes.values())
    for route in ("rollup", "pruned", "raw"):
        ctx.layers[f"serving.route_share.{route}"] = routes.get(route, 0) / panel_answers if panel_answers else 0.0
    ctx.detail["requests"] = SERVING_WARMUP_ROUNDS * (2 + len(sqls)) + 2 * len(dash_ms) + len(query_ms)
    return work_s


# --------------------------------------------------------------------------
# reporting helpers
# --------------------------------------------------------------------------


def _tail_detail(name: str, values: list[float]) -> dict:
    t = common.tail(values)
    if t is None:
        return {f"{name}_ms": None, f"{name}_pct": None, f"{name}_n": len(values)}
    pct, v = t
    return {f"{name}_ms": v, f"{name}_pct": pct, f"{name}_n": len(values)}


def _tail_or_max(values: list[float]) -> float:
    t = common.tail(values)
    return t[1] if t is not None else max(values)


def collect_jobs(ctx) -> None:
    """Read the status store once and turn job counts into per-layer rows."""
    by_layer = ctx.tracer.collect()
    L = ctx.layers
    if ctx.workload == "suite":
        n_pass = max(1, ctx.detail.get("traced_passes", 0))
        L["operators.build_jobs"] = len(by_layer.get("operators", ())) / n_pass
        ex = by_layer.get("exec", [])
        L["exec.jobs"] = len(ex) / n_pass
        L["exec.stages"] = sum(j.stages for j in ex) / n_pass
        L["exec.tasks"] = sum(j.tasks for j in ex) / n_pass
        L["exec.shuffle_write_mb"] = sum(j.shuffle_write_bytes for j in ex) / MIB / n_pass
        L["exec.shuffle_records"] = sum(j.shuffle_records for j in ex) / n_pass
        L["exec.spill_mb"] = sum(j.spill_bytes for j in ex) / MIB / n_pass
        wall = sum(ctx.tracer.seconds("exec"))
        if wall > 0:
            L["exec.busy_ratio"] = sum(j.run_ms for j in ex) / 1000.0 / (wall * ctx.cores)
    elif ctx.workload == "ingest":
        n_cycles = max(1, ctx.detail.get("traced_cycles", 0))
        L["ingest.jobs"] = len(by_layer.get("ingest", ())) / n_cycles
    else:
        L["ingest.jobs"] = len(by_layer.get("ingest", ()))
        served = [j for key, jobs in by_layer.items() if key.startswith("serving ") for j in jobs]
        L["serving.jobs_per_request"] = len(served) / max(1, ctx.detail.get("requests", 0))
