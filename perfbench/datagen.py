"""Seeded inputs for the benchmark: the relational tables the query suite and
the ad-hoc SQL read, and OTLP/JSON log payloads for ingest and serving.

The same seed gives byte-identical files. The tables follow the schemas in
``schema.TESTDATA_TABLES`` at roughly TPC-H scale factor 0.01; values are
uniform, with a share of near-duplicate documents so the dedup operators
find pairs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window order data column join small customer query filter group big stream vector"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["small", "red", "blue", "green", "steel", "ring", "widget", "bolt"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences; every tenth document is an earlier one with
    one word replaced, so near-duplicate detection has real pairs."""
    docs: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = docs[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), size=int(rng.integers(8, 100)))]
        docs.append(" ".join(words))
    return docs


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(r["region"]), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(r["nation"]), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(r["nation"])],
        "n_regionkey": pa.array([i % r["region"] for i in range(r["nation"])], pa.int32()),
    })
    nc = r["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, r["nation"], nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, len(_SEGMENTS), nc)],
    })
    ns = r["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, r["nation"], ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = r["part"]
    w = rng.integers(0, len(_PART_WORDS), (npart, 2))
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{_PART_WORDS[a]} {_PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": [_PART_TYPES[k] for k in rng.integers(0, len(_PART_TYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(npart) * 0.1, 2),
    })
    no = r["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, no) * _DAY_US),
        "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, len(_PRIORITIES), no)],
    })
    nl = r["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, nl) * _DAY_US),
    })
    ne = r["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, len(_EVENT_TYPES), ne)],
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = r["documents"]
    docs = _documents(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": docs,
        "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    nv = r["embeddings"]
    vecs = rng.normal(0.0, 0.12, (nv, 64)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------------------
# OTLP/JSON log payloads
# --------------------------------------------------------------------------

SERVICES = ("auth", "checkout", "inventory", "payments", "search")
_SEVERITIES = (("DEBUG", 5), ("INFO", 9), ("INFO", 9), ("INFO", 9), ("WARN", 13), ("ERROR", 17))
_BODIES = ("request handled", "cache miss", "user login", "db query slow", "retrying upstream", "connection reset")


def otlp_payload(rng: np.random.Generator, service: str, times_ns: np.ndarray) -> bytes:
    """One OTLP export request (one resource, one scope) with a record at
    each of ``times_ns``, serialized as JSON bytes."""
    n = len(times_ns)
    sev = rng.integers(0, len(_SEVERITIES), n)
    body = rng.integers(0, len(_BODIES), n)
    status = rng.choice((200, 200, 200, 404, 500), n)
    trace = rng.integers(0, 2**63, (n, 2))
    records = [
        {
            "timeUnixNano": str(int(t)),
            "observedTimeUnixNano": str(int(t) + 1_000_000),
            "severityText": _SEVERITIES[s][0],
            "severityNumber": _SEVERITIES[s][1],
            "body": {"stringValue": f"{_BODIES[b]} #{i}"},
            "traceId": f"{hi:016x}{lo:016x}",
            "spanId": f"{lo:016x}",
            "attributes": [{"key": "http.status_code", "value": {"intValue": str(int(c))}}],
        }
        for i, (t, s, b, c, (hi, lo)) in enumerate(zip(times_ns, sev, body, status, trace))
    ]
    envelope = {
        "resourceLogs": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": service}},
                {"key": "service.namespace", "value": {"stringValue": "bench"}},
            ]},
            "scopeLogs": [{"scope": {"name": "perfbench", "version": "1"}, "logRecords": records}],
        }]
    }
    return json.dumps(envelope, separators=(",", ":")).encode()
