"""Streaming ingest tests (SURVEY.md §5.2 streaming-batch equivalence;
§2.A1-A2,A6-A7): HTTP receiver -> landing dir -> Structured Streaming ->
partitioned warehouse, equivalence with one-shot batch ingest, incremental
(exactly-once) restarts, and the continuous severity-counts extension."""

from __future__ import annotations

import json
import urllib.request

import pytest

from demo_otel_parquet_antalya_spark.sources.otlp import flatten_otlp, ingest_otlp_json
from demo_otel_parquet_antalya_spark.sources.parquet_sink import read_logs
from demo_otel_parquet_antalya_spark.streaming.ingest import (
    run_ingest_once,
    streaming_severity_counts,
)
from demo_otel_parquet_antalya_spark.streaming.receiver import OTLPReceiver
from tests.test_otlp_ingest import CANONICAL_PAYLOAD


def _payload(i: int, service: str = "svc-a", sev: str = "INFO") -> bytes:
    p = json.loads(json.dumps(CANONICAL_PAYLOAD))
    rec = p["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]
    rec["timeUnixNano"] = str(1700000000_000000000 + i * 1_000_000_000)
    rec["observedTimeUnixNano"] = rec["timeUnixNano"]
    rec["body"]["stringValue"] = f"msg {i}"
    rec["severityText"] = sev
    p["resourceLogs"][0]["resource"]["attributes"][0]["value"]["stringValue"] = service
    return json.dumps(p).encode()


def _post(port: int, body: bytes, path: str = "/v1/logs") -> int:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


def test_receiver_writes_landing_files(tmp_path):
    landing = str(tmp_path / "landing")
    rx = OTLPReceiver(landing).start()
    try:
        assert _post(rx.port, _payload(0)) == 200
        assert _post(rx.port, _payload(1)) == 200
        assert _post(rx.port, b"", path="/v1/logs") == 400
        assert _post(rx.port, _payload(2), path="/v1/metrics") == 404
        # the 404 is answered before any body read and then drains bounded,
        # so a mid-send client READS it (no ECONNRESET retry loop) even
        # with a large body in flight (code-review r10, pass 4)
        assert _post(rx.port, b"x" * (1 << 20), path="/v1/metrics") == 404
    finally:
        rx.stop()
    files = sorted((tmp_path / "landing").glob("otlp-*.json"))
    assert len(files) == 2
    # payloads persisted verbatim (no parsing in the receiver)
    assert json.loads(files[0].read_bytes())["resourceLogs"]


def test_receiver_bounds_and_decodes_input(tmp_path):
    """The receiver's door checks (r9): gzip bodies accepted with a bomb
    cap, oversized Content-Length answers 413 before any read, unknown
    encodings 415, malformed Content-Length 400 — the same
    declared-size-before-allocation posture as the image codecs."""
    import gzip
    import urllib.error
    import urllib.request

    from demo_otel_parquet_antalya_spark.streaming.receiver import MAX_BODY_BYTES

    landing = str(tmp_path / "landing")
    rx = OTLPReceiver(landing).start()

    def post(body, headers):
        req = urllib.request.Request(
            f"http://127.0.0.1:{rx.port}/v1/logs", data=body,
            headers={"Content-Type": "application/json", **headers},
        )
        try:
            with urllib.request.urlopen(req, timeout=10) as resp:
                return resp.status
        except urllib.error.HTTPError as e:
            return e.code

    try:
        # gzip JSON: lands with the exact DECOMPRESSED content
        raw = _payload(7)
        assert post(gzip.compress(raw), {"Content-Encoding": "gzip"}) == 200
        files = sorted((tmp_path / "landing").glob("otlp-*.json"))
        assert len(files) == 1 and files[0].read_bytes() == raw
        # gzip bomb: tiny request, over-cap decompressed size -> 413
        bomb = gzip.compress(b"\0" * (MAX_BODY_BYTES + 1))
        assert len(bomb) < 1 << 21
        assert post(bomb, {"Content-Encoding": "gzip"}) == 413
        # truncated and malformed gzip -> 400
        assert post(gzip.compress(raw)[:-5], {"Content-Encoding": "gzip"}) == 400
        assert post(b"not gzip at all", {"Content-Encoding": "gzip"}) == 400
        # multi-member gzip (RFC 9110 gzip coding is member concatenation,
        # e.g. a Go writer Reset): the FULL concatenation must land —
        # stopping at member one would ack 200 and silently drop the rest
        raw2 = _payload(8)
        assert post(
            gzip.compress(raw) + gzip.compress(raw2), {"Content-Encoding": "gzip"}
        ) == 200
        newest = max(
            (tmp_path / "landing").glob("otlp-*.json"), key=lambda p: p.stat().st_mtime
        )
        assert newest.read_bytes() == raw + raw2
        # multi-member bomb still answers 413 (cap is on TOTAL output)
        half = gzip.compress(b"\0" * (MAX_BODY_BYTES // 2 + 1))
        assert post(half + half, {"Content-Encoding": "gzip"}) == 413
        # trailing garbage after a valid member -> 400, not silent drop
        assert post(
            gzip.compress(raw) + b"trailing junk", {"Content-Encoding": "gzip"}
        ) == 400
        # x-gzip is gzip (RFC 9110 8.4.1.3)
        assert post(gzip.compress(raw), {"Content-Encoding": "x-gzip"}) == 200
        # unknown encoding -> 415; claimed oversize -> 413; bad length -> 400
        assert post(raw, {"Content-Encoding": "br"}) == 415
        assert post(raw, {"Content-Length": str(MAX_BODY_BYTES + 1)}) == 413
        assert post(raw, {"Content-Length": "banana"}) == 400
        # a REAL oversized body (not just a claimed header) gets a readable
        # 413 back — the bounded drain keeps the socket from RSTing
        big = b"x" * (MAX_BODY_BYTES + 2)
        assert post(big, {}) == 413
        # chunked transfer (no Content-Length) -> 411, not '400 empty body'
        assert post(raw, {"Transfer-Encoding": "chunked"}) == 411
        # rejected requests landed nothing beyond the three 200s above
        assert len(list((tmp_path / "landing").glob("otlp-*.json"))) == 3
    finally:
        rx.stop()


def test_stream_batch_equivalence_and_incremental_restart(spark, tmp_path):
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    rx = OTLPReceiver(landing).start()
    try:
        for i in range(10):
            assert _post(rx.port, _payload(i, service=f"svc-{i % 2}")) == 200
    finally:
        rx.stop()

    run_ingest_once(spark, landing, warehouse, ckpt)
    streamed = read_logs(spark, warehouse)
    assert streamed.count() == 10

    # equivalence: streaming output == one-shot batch ingest of the same files
    batch = ingest_otlp_json(spark, landing)
    cols = batch.columns  # flat 15-col schema (warehouse adds partition cols)
    assert sorted(streamed.select(*cols).collect()) == sorted(batch.collect())

    # partition layout contract (A7)
    parts = {p.name for p in (tmp_path / "warehouse").iterdir() if p.is_dir()}
    assert {"service_name=svc-0", "service_name=svc-1"} <= parts

    # incremental restart: only the delta is processed, reruns are no-ops
    rx = OTLPReceiver(landing).start()
    try:
        assert _post(rx.port, _payload(100, service="svc-new")) == 200
    finally:
        rx.stop()
    run_ingest_once(spark, landing, warehouse, ckpt)
    assert read_logs(spark, warehouse).count() == 11
    run_ingest_once(spark, landing, warehouse, ckpt)  # idempotent rerun
    assert read_logs(spark, warehouse).count() == 11


_HOUR_NS = 3600 * 10**9


def _land_hours(landing: str, tag: str, services, hours, per_hour: int = 2) -> int:
    """One payload file per service in the landing dir, ``per_hour``
    records in each of ``hours``; returns the number of records landed.
    Every record's body is unique."""
    import os

    os.makedirs(landing, exist_ok=True)
    for svc in services:
        p = json.loads(json.dumps(CANONICAL_PAYLOAD))
        p["resourceLogs"][0]["resource"]["attributes"][0]["value"]["stringValue"] = svc
        template = p["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]
        records = []
        for h in hours:
            for i in range(per_hour):
                rec = json.loads(json.dumps(template))
                rec["timeUnixNano"] = str(1700000000_000000000 + h * _HOUR_NS + i * 10**9)
                rec["body"]["stringValue"] = f"{tag} {svc} {h} {i}"
                records.append(rec)
        p["resourceLogs"][0]["scopeLogs"][0]["logRecords"] = records
        tmp = os.path.join(landing, f".{tag}-{svc}.tmp")
        with open(tmp, "w") as f:
            json.dump(p, f)
        os.replace(tmp, os.path.join(landing, f"{tag}-{svc}.json"))
    return len(services) * len(hours) * per_hour


def test_registry_reads_ingest_output_without_listing_or_inference(spark, tmp_path):
    """Read-back of a registry over the package's own layout: ``table()``
    declares the warehouse schema and lists its files on the driver, so it
    submits no Spark job even past Spark's 32-path listing threshold, and
    the count runs its own two jobs. The declared schema is the one
    inference finds in those files."""
    from demo_otel_parquet_antalya_spark.sources.registry import LogTableRegistry
    from tests.test_http_sql import _newest_job_id

    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    services = [f"svc-{k}" for k in range(8)]
    posted = _land_hours(landing, "a", services, range(5))
    run_ingest_once(spark, landing, warehouse, str(tmp_path / "ckpt"))
    reg = LogTableRegistry(spark, warehouse, state_path=str(tmp_path / "state.txt"))
    reg.sync()
    files = sorted(reg.registered())
    assert len(files) >= 40

    before = _newest_job_id(spark)
    df = reg.table()
    assert _newest_job_id(spark) == before
    assert df.count() == posted
    assert _newest_job_id(spark) - before == 2

    inferred = spark.read.option("basePath", warehouse).parquet(*files).schema
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in inferred
    ]
    per_service = dict(df.groupBy("service_name").count().collect())
    assert per_service == dict.fromkeys(services, posted // len(services))


def test_ingest_cycles_reuse_one_plan_and_stay_exactly_once(spark, tmp_path, monkeypatch):
    """Repeated ``run_ingest_once`` calls on one session build the
    flattening plan once; each cycle still adds only its own landing
    files. A restart on another session with the same checkpoint builds
    its own plan and adds no record twice."""
    from demo_otel_parquet_antalya_spark.streaming import ingest

    calls = []

    def counting_flatten(df):
        calls.append(df)
        return flatten_otlp(df)

    monkeypatch.setattr(ingest, "flatten_otlp", counting_flatten)
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    def bodies():
        rows = read_logs(spark, warehouse).select("body").collect()
        return [r.body for r in rows]

    total = 0
    for cycle in range(3):
        total += _land_hours(landing, f"c{cycle}", ["svc-a", "svc-b"], range(2))
        run_ingest_once(spark, landing, warehouse, ckpt)
        got = bodies()
        assert len(got) == len(set(got)) == total
    assert len(calls) == 1

    other = spark.newSession()
    total += _land_hours(landing, "restart", ["svc-a"], range(3))
    run_ingest_once(other, landing, warehouse, ckpt)
    run_ingest_once(other, landing, warehouse, ckpt)  # no delta: a no-op
    assert len(calls) == 2
    got = bodies()
    assert len(got) == len(set(got)) == total


def test_freshness_contract(spark, tmp_path):
    """Reference freshness: record visible ≈ flush age + sync interval,
    ~70 s worst case with 30 s + 60 s cadences (BASELINE.md). Our continuous
    pipeline at a 1 s trigger must make a posted record queryable well inside
    that envelope — here we assert ≤ 30 s end-to-end including startup."""
    import time

    from demo_otel_parquet_antalya_spark.streaming.ingest import start_ingest_stream

    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    rx = OTLPReceiver(landing).start()
    q = start_ingest_stream(
        spark, landing, warehouse, str(tmp_path / "ckpt"), trigger_seconds=1.0
    )
    try:
        t0 = time.perf_counter()
        assert _post(rx.port, _payload(7, service="svc-fresh")) == 200
        deadline = t0 + 30
        visible = None
        while time.perf_counter() < deadline:
            try:
                n = (
                    read_logs(spark, warehouse)
                    .filter("service_name = 'svc-fresh'")
                    .count()
                )
            except Exception:  # warehouse dir not created yet
                n = 0
            if n >= 1:
                visible = time.perf_counter() - t0
                break
            time.sleep(0.5)
        assert visible is not None, "record not queryable within 30 s"
    finally:
        q.stop()
        rx.stop()


def test_streaming_severity_counts_matches_batch(spark, tmp_path):
    """The continuous Grafana-panel aggregate equals the batch groupBy on the
    same input (complete-mode memory sink)."""
    landing = str(tmp_path / "landing")
    for i in range(12):
        from demo_otel_parquet_antalya_spark.streaming.receiver import write_landing_file

        write_landing_file(landing, _payload(i, service=f"svc-{i % 3}", sev="INFO" if i % 2 else "WARN"))

    from demo_otel_parquet_antalya_spark.streaming.ingest import read_otlp_stream
    from demo_otel_parquet_antalya_spark.sources.otlp import flatten_otlp, read_otlp_json

    stream = streaming_severity_counts(flatten_otlp(read_otlp_stream(spark, landing)))
    q = (
        stream.writeStream.format("memory")
        .queryName("sev_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(tuple(r) for r in spark.table("sev_counts").collect())
    want = sorted(
        tuple(r)
        for r in streaming_severity_counts(flatten_otlp(read_otlp_json(spark, landing))).collect()
    )
    # batch path has no watermark state; semantics must agree exactly
    assert got == want and len(got) > 0


def test_streaming_hopping_window_matches_batch(spark, tmp_path):
    """Hopping-window counts computed by the stream must equal the same
    window() expression over the batch read of the identical files — the
    'same expression under a watermark' contract of time_bucket_hopping."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "events")
    os.makedirs(src, exist_ok=True)
    base = 1700000000
    rows = [(i % 3, base + i * 37, ("view", "click")[i % 2]) for i in range(60)]
    with open(f"{src}/e.json", "w") as f:
        for uid, sec, action in rows:
            f.write(_json.dumps({"user_id": uid, "sec": sec, "action": action}) + "\n")

    schema = "user_id bigint, sec bigint, action string"

    def hopping(df):
        return (
            df.select(F.timestamp_seconds("sec").alias("ts"), "action")
            .groupBy(F.window("ts", "2 minutes", "1 minute").alias("w"), "action")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("w_start"), "action", "n")
        )

    stream = spark.readStream.schema(schema).json(src)
    run = (
        hopping(stream)
        .writeStream.format("memory")
        .queryName("hop")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    run.awaitTermination()
    got = {(str(r.w_start), r.action): r.n for r in spark.table("hop").collect()}
    want = {
        (str(r.w_start), r.action): r.n
        for r in hopping(spark.read.schema(schema).json(src)).collect()
    }
    assert got == want and len(want) > 4


def test_receiver_short_body_and_stall(tmp_path):
    """Door checks shared via http_door (r10): a body shorter than its
    declared Content-Length answers 400 (previously the truncated payload
    LANDED and was acked 200 — an incomplete export must not count as
    delivered), and a client stalled mid-body past the socket timeout
    answers a best-effort 408 instead of a socketserver handle_error
    traceback (ADVICE r9)."""
    import socket

    landing = str(tmp_path / "landing")
    rx = OTLPReceiver(landing).start()
    rx.server.RequestHandlerClass.timeout = 0.5
    try:
        # short body -> 400, nothing lands
        s = socket.create_connection(("127.0.0.1", rx.port), timeout=10)
        s.sendall(
            b"POST /v1/logs HTTP/1.1\r\nHost: x\r\n"
            b"Content-Length: 100\r\n\r\n0123456789"
        )
        s.shutdown(socket.SHUT_WR)
        status = s.recv(4096).split(b"\r\n", 1)[0]
        assert b" 400 " in status, status
        s.close()
        # mid-body stall -> 408 after the socket timeout, thread freed
        s = socket.create_connection(("127.0.0.1", rx.port), timeout=10)
        s.sendall(
            b"POST /v1/logs HTTP/1.1\r\nHost: x\r\nContent-Length: 100\r\n\r\nabc"
        )
        status = s.recv(4096).split(b"\r\n", 1)[0]
        assert b" 408 " in status, status
        s.close()
        assert list((tmp_path / "landing").glob("otlp-*.json")) == []
    finally:
        rx.stop()


def test_junk_header_probes_answer_instantly(tmp_path):
    """A zero-body probe with a garbage Content-Length (to the 404 path
    or the door's 400 path) must be answered without any blocking drain —
    before the drain_limit policy it pinned a handler thread until the
    30 s socket timeout (code-review r10, passes 5-6)."""
    import socket
    import time

    rx = OTLPReceiver(str(tmp_path / "landing")).start()
    try:
        for path, want in ((b"/v1/metrics", b" 404 "), (b"/v1/logs", b" 400 ")):
            s = socket.create_connection(("127.0.0.1", rx.port), timeout=10)
            t0 = time.monotonic()
            s.sendall(
                b"POST " + path + b" HTTP/1.1\r\nHost: x\r\n"
                b"Content-Length: zzz\r\n\r\n"
            )  # no body follows; socket stays open
            status = s.recv(4096).split(b"\r\n", 1)[0]
            elapsed = time.monotonic() - t0
            assert want in status, status
            assert elapsed < 5.0, f"drain blocked {elapsed:.1f}s on {path}"
            s.close()
    finally:
        rx.stop()
