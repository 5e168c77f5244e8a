"""Continuously-maintained connected-component labels over an edge stream.

The streaming twin of ``operators/dedup.py::connected_components`` — the
shape an always-on dedup pipeline needs: near-dup PAIRS arrive with each
ingest micro-batch (e.g. from the incremental MinHash index probe), and
the corpus-wide cluster labeling must stay current WITHOUT re-running CC
over the whole accumulated pair graph.

Incrementality is O(affected), not O(corpus): a micro-batch can only
change components its edges touch, so each batch

1. finds the prior components incident to any batch node (semi-join);
2. compresses exactly those components to STAR edges (label -> member) —
   depth-1 structures, so the batch CC over (star edges ∪ new edges)
   converges in ~2 pointer-jumping rounds regardless of how deep the
   original merge history was;
3. carries every untouched component's labels forward verbatim (anti-join
   — no recompute, no shuffle of their members beyond the label scan).

Labels are min-id-in-component, identical to the batch operator, so the
streamed labeling equals ``connected_components`` over the union of all
edges seen — regardless of how the stream was split into batches (CC is
associative under this merge: proven by the equivalence test across
splits).

State discipline mirrors ``streaming/rollup.py``: each batch lands the
full labeling as a versioned snapshot dir ``v=<batch_id>``; a replayed
batch merges the snapshot strictly BEFORE its id and overwrites its own
version — exactly-once output on plain parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_otel_parquet_antalya_spark.operators.dedup import connected_components
from demo_otel_parquet_antalya_spark.streaming.rollup import (
    _read_state,
    _refuse_stale_writer,
    _versions,
)

LABEL_SCHEMA = "id long, cluster_id long"


def read_components(spark: SparkSession, target_dir: str) -> DataFrame:
    """Latest committed labeling (empty frame if none yet)."""
    vs = _versions(spark, target_dir)
    if not vs:
        return spark.createDataFrame([], LABEL_SCHEMA)
    return _read_state(spark, target_dir, vs[-1], LABEL_SCHEMA)


def merge_components(prior: DataFrame, new_edges: DataFrame) -> DataFrame:
    """One incremental step: prior (id, cluster_id) labels + a batch of new
    (id_a, id_b) edges -> the labeling of the union graph. Pure function —
    the streaming sink below and the tests share it."""
    # prior feeds three arms below (touched, affected, untouched), and the
    # output may be chained back in as the next prior. Two things would
    # then grow geometrically with the chain: the plan, which would carry
    # every earlier step's plan three times over, and the size estimate.
    # A checkpoint keeps the estimate of the plan it cuts, and
    # connected_components' rounds multiply estimates (an inner join's is
    # the product of its sides'), so the estimate's digit count, and the
    # planning time with it, would multiply with every step. An eager
    # checkpoint, re-wrapped as a plain row RDD that carries no inherited
    # estimate, starts each step from a fresh leaf.
    spark = prior.sparkSession
    done = prior.localCheckpoint(eager=True)
    prior = DataFrame(
        spark._jsparkSession.createDataFrame(done._jdf.javaRDD(), done._jdf.schema()),
        spark,
    )
    new_e = new_edges.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    ).distinct()
    batch_nodes = (
        new_e.select(F.col("id_a").alias("id"))
        .unionAll(new_e.select(F.col("id_b").alias("id")))
        .distinct()
    )
    touched = (
        prior.join(batch_nodes, "id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    affected = prior.join(touched, "cluster_id", "left_semi")
    untouched = prior.join(touched, "cluster_id", "left_anti")
    # star edges: label -> member compresses each affected component to
    # depth 1 (the label IS the min member id, hence a real node)
    star = affected.select(
        F.col("cluster_id").alias("id_a"), F.col("id").alias("id_b")
    ).filter(F.col("id_a") != F.col("id_b"))
    relabeled = connected_components(new_e.unionByName(star))
    return untouched.unionByName(relabeled)


def incremental_components(
    edges: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    src: str = "id_a",
    dst: str = "id_b",
):
    """Start the label-maintenance stream over an edge stream; returns the
    StreamingQuery. ``edges`` is a streaming DataFrame with ``src``/``dst``
    columns."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_e = batch_df.select(
            F.col(src).alias("id_a"), F.col(dst).alias("id_b")
        )
        vs_all = _versions(spark, target_dir)
        _refuse_stale_writer(target_dir, batch_id, vs_all)
        prior_vs = [v for v in vs_all if v < batch_id]
        prior = (
            _read_state(spark, target_dir, prior_vs[-1], LABEL_SCHEMA)
            if prior_vs
            else spark.createDataFrame([], LABEL_SCHEMA)
        )
        out = merge_components(prior, new_e)
        out.write.mode("overwrite").parquet(f"{target_dir}/v={batch_id}")

    return (
        edges.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
