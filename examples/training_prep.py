#!/usr/bin/env python
"""Training-data preparation walkthrough: the north-star operator chain
on the synthetic documents/embeddings tables, stage by stage.

    python examples/training_prep.py [sf_dir]      # default sf0.001

1. profile the corpus (one-pass nulls/ranges audit)
2. quality-gate it (C4-style deterministic score)
3. find near-duplicates (MinHash+LSH, exact-verified)
4. collapse pairs to clusters and keep each cluster's canonical doc
5. flag cross-document repeated n-gram spans (substring-dedup tier)
6. semantic dedup over the embeddings (SemDeDup shape)
7. draw a deterministic per-language sample (md5 order, no RNG state)
8. IVF approximate nearest-neighbour search over the embeddings
9. incremental dedup: probe a NEW batch against the persisted LSH index
10. train a BPE tokenizer on the corpus and encode it
11. line-level dedup (RefinedWeb tier): flag + scrub cross-doc boilerplate
12. quality-classifier inference (fastText shape, zero-shuffle scan pass)
13. cluster-density review: clique vs chain before dropping non-canonicals
14. spend the token budget on the best docs (greedy prefix, parallel prefix sum)
15. write token-balanced contiguous shards for the training workers

The same chain runs as ONE registered query (``pipeline_training_prep``)
hash-checked against a full-SQL DuckDB oracle — this script is the
narrated version.
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from demo_otel_parquet_antalya_spark.functions import text as tx
from demo_otel_parquet_antalya_spark.operators import dedup, similarity
from demo_otel_parquet_antalya_spark.plans.tables import load_table
from demo_otel_parquet_antalya_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="training-prep-example")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    print("== 1. profile ==")
    docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg(tx.token_count("text")), 1).alias("avg_tokens"),
    ).show()

    print("== 2. quality gate ==")
    fdocs = docs.filter(tx.quality_score("text") >= 0.5)
    print(f"kept {fdocs.count()} / {docs.count()} docs past the gate")

    print("== 3. near-duplicate pairs (MinHash+LSH, exact-verified) ==")
    pairs = dedup.minhash_dedup_pairs(fdocs, threshold=0.9)
    pairs.show(5)

    print("== 4. clusters -> canonical keep ==")
    comp = dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    kept = fdocs.join(comp, "doc_id", "left").filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    )
    print(f"{kept.count()} docs after dropping non-canonical near-dups")

    print("== 5. repeated n-gram spans (cross-doc duplicated content) ==")
    dedup.repeated_ngram_spans(kept, n=8).orderBy(
        F.col("n_grams").desc(), "doc_id"
    ).show(5)

    print("== 6. semantic dedup (cluster-bounded cosine pruning) ==")
    dedup.semantic_dedup_drops(emb, n_seeds=32, threshold=0.4).show(5)

    print("== 7. deterministic per-language sample ==")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("text").cast("binary")), "doc_id")
    sample = (
        kept.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )
    sample.orderBy("lang", "doc_id").show(12)

    print("== 8. IVF ANN: assign vectors to centroid cells, probe nprobe cells ==")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    similarity.ivf_topk(emb, queries, k=3, n_centroids=16, nprobe=4).show()

    print("== 9. incremental dedup against the persisted LSH band index ==")
    with tempfile.TemporaryDirectory() as tmp:
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.minhash_index_write(corpus, f"{tmp}/lsh")
        dedup.minhash_dedup_incremental(
            batch, corpus, f"{tmp}/lsh", threshold=0.9
        ).show(5)

    print("== 10. BPE tokenizer: train merges, encode the corpus ==")
    from demo_otel_parquet_antalya_spark.operators import bpe

    merges = bpe.train_bpe_merges(docs, n_merges=8)
    print(f"first merges: {merges[:4]}")
    bpe.apply_bpe(docs, merges).select("doc_id", "n_bpe_tokens").show(5)

    print("== 11. line-level dedup: boilerplate lines shared across docs ==")
    dedup.line_level_stats(docs, line_tokens=12).show(5)
    dedup.line_level_scrub(docs, line_tokens=12).select(
        "doc_id", "n_kept_lines"
    ).show(5)

    print("== 12. quality-classifier inference (one scan-stage pass) ==")
    logit = tx.hashed_linear_logit(F.col("text"))
    docs.select(
        "doc_id",
        F.round(logit, 4).alias("logit"),
        F.when(logit >= 0, "keep").otherwise("drop").alias("label"),
    ).groupBy("label").count().show()

    print("== 13. dedup-cluster density: clique (safe) vs partial (review) ==")
    dedup.cluster_density(pairs).groupBy("shape").agg(
        F.count("*").alias("n_clusters"), F.sum("n_nodes").alias("n_docs")
    ).show()

    print("== 14. token-budget selection: best docs first until 50% of tokens ==")
    from demo_otel_parquet_antalya_spark.operators import stats

    scored = kept.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        (-F.round(tx.stopword_ratio("text"), 6)).alias("neg_score"),
    )
    budget = scored.agg((F.lit(0.5) * F.sum("n_tokens")).alias("budget"))
    selected = stats.select_by_budget(scored, ["neg_score", "doc_id"], "n_tokens", budget)
    selected.agg(
        F.count("*").alias("n_selected"), F.sum("n_tokens").alias("tokens_spent")
    ).show()

    print("== 15. token-balanced contiguous shards for the workers ==")
    offs = stats.prefix_sums(selected.select("doc_id", "n_tokens"), "doc_id", ["n_tokens"])
    tot = selected.agg(F.sum("n_tokens").alias("total"))
    shards = offs.join(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.least(
            F.lit(3).cast("long"),
            F.floor((F.col("cum_n_tokens") - F.col("n_tokens")) * 4.0 / F.col("total")),
        ).alias("shard_id"),
    )
    shards.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("shard_tokens")
    ).orderBy("shard_id").show()

    spark.stop()


if __name__ == "__main__":
    main()
