#!/usr/bin/env python
"""Continuous-ingest dedup: admit a NEW batch against an EXISTING corpus.

The full-corpus recipe (examples/curation.py) is the bootstrap. This is
every day after: a fresh crawl/CDC batch arrives, and only documents that
aren't near-duplicates of what the corpus already holds get admitted. The
economics at 100 TB hinge on the corpus side being PRECOMPUTED — the band
index is a band-keyed table that grows append-only as batches are
admitted, so each increment costs O(batch shingles) plus bounded
band-bucket probes, never a corpus rescan.

Stages (all oracle-backed operators from operators/dedup.py):
  1. split the fixture into "corpus" (3/4) and today's "batch" (1/4)
  2. exact-hash dedup INSIDE the batch (cheap first valve)
  3. batch-vs-corpus MinHash+LSH pairs (minhash_incremental_pairs) —
     candidates from band-key probes, exact-Jaccard verified
  4. anti-join the flagged docs away; the survivors are admitted, and
     their banded signatures are exactly the rows a production job would
     APPEND to the persisted corpus band index

Run: python examples/incremental_ingest.py [sf_dir]
     (default /root/testdata/sf0.001)
"""

import sys

import pyspark.sql.functions as F

from go_pq_cdc_kafka_spark.catalog import load_table, spread_small_scan
from go_pq_cdc_kafka_spark.operators import dedup as DD
from go_pq_cdc_kafka_spark.session import get_spark


def main(spark=None, sf_dir: str = "/root/testdata/sf0.001") -> dict:
    spark = spark or get_spark(app_name="example-incremental-ingest")
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))

    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    stages: dict[str, int] = {
        "corpus": corpus.count(),
        "batch_in": batch.count(),
    }

    # 1. exact dedup inside the batch (one hash-groupBy; first valve)
    batch = DD.exact_dedup(batch).drop("fp")
    stages["batch_after_exact"] = batch.count()

    # 2. near-dup flags against the EXISTING corpus — cross-set only, the
    #    corpus is never self-joined here (it is already deduped); the
    #    row count picks the operator's scale regime
    flagged = DD.minhash_incremental_pairs(
        corpus, batch, num_perms=16, bands=4, threshold=0.5,
        rows=stages["corpus"] + stages["batch_in"],
    )
    stages["flagged_pairs"] = flagged.count()

    # 3. admit the survivors
    admitted = batch.join(
        flagged.select(F.col("new_doc").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    stages["admitted"] = admitted.count()

    # 4. the rows production would append to the persisted corpus index:
    #    the admitted docs' banded MinHash signatures
    sigs = DD.minhash_signatures(admitted, num_perms=16)
    stages["index_rows_appended"] = sigs.count()
    return stages


if __name__ == "__main__":
    out = main(sf_dir=sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
    for k, v in out.items():
        print(f"{k:>22}: {v}")
