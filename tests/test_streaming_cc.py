"""Continuously-maintained connected components: the streamed labeling must
equal batch connected_components over the union of all edges seen, however
the stream was split into micro-batches; a replayed batch must leave the
labeling unchanged; and each step must recompute only the touched
components."""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from demo_otel_parquet_antalya_spark.operators.dedup import connected_components
from demo_otel_parquet_antalya_spark.streaming.cc import (
    incremental_components,
    merge_components,
    read_components,
)

SCHEMA = "id_a bigint, id_b bigint"


def _write(path, fname, rows):
    import os

    os.makedirs(path, exist_ok=True)
    with open(f"{path}/{fname}", "w") as f:
        for a, b in rows:
            f.write(json.dumps({"id_a": a, "id_b": b}) + "\n")


def _labels(df):
    return sorted((r.id, r.cluster_id) for r in df.collect())


def test_streamed_labels_equal_batch(spark, tmp_path):
    """Three micro-batches whose edges MERGE previously separate components
    (1-2 | 3-4 arrive first, 2-3 bridges them later) must converge to the
    batch answer over the union."""
    src = str(tmp_path / "src")
    _write(src, "a.json", [(1, 2), (3, 4), (10, 11)])
    _write(src, "b.json", [(2, 3), (20, 21)])  # bridges {1,2} and {3,4}
    _write(src, "c.json", [(11, 20), (30, 31)])  # bridges {10,11} and {20,21}

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    target, ckpt = str(tmp_path / "cc"), str(tmp_path / "ckpt")
    incremental_components(stream, target, ckpt).awaitTermination()

    got = read_components(spark, target)
    want = connected_components(spark.read.schema(SCHEMA).json(src))
    assert _labels(got) == _labels(want)
    # the bridged components really merged
    by_node = dict(_labels(got))
    assert by_node[1] == by_node[4] == 1
    assert by_node[10] == by_node[21] == 10


def test_split_invariance(spark):
    """One batch vs edge-at-a-time must produce the identical labeling."""
    edges = [(1, 2), (2, 3), (5, 6), (3, 5), (8, 9)]
    all_df = spark.createDataFrame(edges, SCHEMA)
    want = _labels(connected_components(all_df))

    prior = spark.createDataFrame([], "id long, cluster_id long")
    for e in edges:
        prior = merge_components(prior, spark.createDataFrame([e], SCHEMA))
    assert _labels(prior) == want


def test_replayed_batch_is_idempotent(spark, tmp_path):
    from demo_otel_parquet_antalya_spark.streaming import cc as cc_mod

    src = str(tmp_path / "src")
    _write(src, "a.json", [(1, 2), (2, 3), (7, 8)])
    stream = spark.readStream.schema(SCHEMA).json(src)
    target, ckpt = str(tmp_path / "cc"), str(tmp_path / "ckpt")
    incremental_components(stream, target, ckpt).awaitTermination()
    before = _labels(read_components(spark, target))

    # re-apply batch 0 by hand (crash-replay shape): merges prior < 0 = none
    batch = spark.read.schema(SCHEMA).json(src)
    out = cc_mod.merge_components(
        spark.createDataFrame([], "id long, cluster_id long"), batch
    )
    out.write.mode("overwrite").parquet(f"{target}/v=0")
    assert _labels(read_components(spark, target)) == before


def test_untouched_components_carry_forward_without_relabel(spark):
    """A batch touching only component {1,2} must not re-derive labels for
    the disjoint component {100,101} — its rows pass through the anti-join
    arm verbatim (O(affected) contract)."""
    prior = spark.createDataFrame(
        [(1, 1), (2, 1), (100, 100), (101, 100)], "id long, cluster_id long"
    )
    new = spark.createDataFrame([(2, 5)], SCHEMA)
    out = merge_components(prior, new)
    assert _labels(out) == [(1, 1), (2, 1), (5, 1), (100, 100), (101, 100)]
    # the relabeled arm saw only the touched component + the new node
    touched = out.filter(F.col("cluster_id") == 1)
    assert touched.count() == 3


def test_chained_merges_keep_the_plan_linear(spark):
    """Each merge's output is the next merge's prior, and a step reads prior
    in three arms (touched, affected, untouched). Unless a step reads prior
    once, the chain's plan grows geometrically (3^k copies of the first
    prior after k merges); the leaf-relation count of the analyzed plan
    must grow at most linearly with the chain length. So must the digit
    count of the plan's size estimate: a checkpoint inherits the estimate
    of the plan it cuts, and the CC rounds inside each merge multiply it."""
    leaves, digits = {}, {}
    prior = spark.createDataFrame([], "id long, cluster_id long")
    # a runaway estimate has more digits than Python converts by default
    limit = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)
    try:
        for k in range(1, 9):
            prior = merge_components(
                prior, spark.createDataFrame([(2 * k, 2 * k + 1)], SCHEMA)
            )
            if k in (2, 4, 8):
                qe = prior._jdf.queryExecution()
                leaves[k] = qe.analyzed().collectLeaves().size()
                digits[k] = len(str(qe.optimizedPlan().stats().sizeInBytes()))
    finally:
        sys.set_int_max_str_digits(limit)
    assert prior.count() == 16
    for grows in (leaves, digits):
        assert grows[4] <= 2 * grows[2] and grows[8] <= 2 * grows[4], grows
