#!/usr/bin/env python
"""An end-to-end training-data curation pipeline on this engine.

The reference stops at delivering row changes to Kafka; the consumers the
README describes (search feeds, caches, analytics) are built *on top*.
This example is that downstream: a corpus arrives (here the `documents`
fixture standing in for a crawl snapshot), and one job runs the standard
LLM-data recipe — language filter, quality + repetition gates, exact and
near dedup, benchmark decontamination, mixture reweighting, and finally
token-budget packing — every stage a Column-expression operator from
`operators/` and `functions/`, so the whole recipe is ONE Catalyst plan
per stage group, not a chain of materialized intermediate tables.

Run: python examples/curation.py [sf_dir]   (default /root/testdata/sf0.001)
"""

import sys

import pyspark.sql.functions as F

from go_pq_cdc_kafka_spark.catalog import load_table, spread_small_scan
from go_pq_cdc_kafka_spark.functions import text as T
from go_pq_cdc_kafka_spark.operators import dedup as DD
from go_pq_cdc_kafka_spark.operators import packing as PK
from go_pq_cdc_kafka_spark.operators import sampling as SA
from go_pq_cdc_kafka_spark.session import get_spark


def main(spark=None, sf_dir: str = "/root/testdata/sf0.001") -> dict:
    spark = spark or get_spark(app_name="example-curation")
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    stages: dict[str, int] = {"input": docs.count()}

    # 1. language + quality gates (pure Column predicates, fused by Catalyst)
    q = T.quality_features(F.col("text"))
    docs = docs.withColumn("lang_pred", T.lang_id(F.col("text"))).filter(
        (q["n_words"] >= 10) & (q["quality_score"] > 0.1)
    )
    stages["after_quality"] = docs.count()

    # 2. repetition gate (Gopher-style): drop docs dominated by one bigram
    grams = docs.select("doc_id", F.explode(T.ngrams_all(F.col("text"), 2)).alias("g"))
    rep = (
        grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c").cast("double")).alias("top_frac"))
    )
    docs = docs.join(rep.filter(F.col("top_frac") <= 0.5), "doc_id", "left_semi")
    stages["after_repetition"] = docs.count()

    # 3. exact dedup, then near-dup pruning via MinHash-LSH pairs
    docs = DD.exact_dedup(docs)
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.6, rows=stages["input"])
    losers = pairs.select(
        F.greatest("doc_a", "doc_b").alias("doc_id")
    ).distinct()
    docs = docs.join(losers, "doc_id", "left_anti")
    stages["after_dedup"] = docs.count()

    # 4. benchmark decontamination (eval slice: doc_id % 17 == 0)
    eval_docs = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    contaminated = DD.ngram_contamination(train, eval_docs, n=5).select("doc_id")
    train = train.join(contaminated, "doc_id", "left_anti")
    stages["after_decontamination"] = train.count()

    # 5. mixture reweighting by language, then pack to a token budget
    train = SA.domain_mixture_sample(
        train, "lang", {"en": 1.0, "de": 0.8, "fr": 0.8, "es": 0.5, "zh": 0.5},
        "doc_id",
    )
    stages["after_mixture"] = train.count()
    packed = PK.pack_greedy(
        train.withColumn("n_tokens", T.token_count(F.col("text"))),
        cost_col="n_tokens",
        budget=256,
        group_cols=["lang"],
        order_col="doc_id",
    )
    stages["packs"] = packed.select("pack_id").distinct().count()
    return stages


if __name__ == "__main__":
    out = main(sf_dir=sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
    for k, v in out.items():
        print(f"{k:>22}: {v}")
