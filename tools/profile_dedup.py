"""Per-stage attribution for the sf100 dedup tail (round-11 verdict task 2).

The round-10 sweep measured end-to-end walls only; this tool splits the
top tail queries into their pipeline stages and times each one at a given
SF so the superlinear growth term is NAMED, not guessed. Stages share one
session; every stage is measured cold (cache + persistent RDDs dropped
between stages, same discipline as tools/sweep_sf.py).

Usage::

    SPARK_GRAFT_DRIVER_MEM=64g python tools/profile_dedup.py /tmp/spark_graft_sf100 cosine

Profiles:
  cosine   — dedup_embedding_cosine: qv build / candidate gen / +join1 /
             full (current shape) / bucket-local A/B shape
  buckets  — LSH bucket-size distribution (skew check for bucket-local)
  minhash  — dedup_minhash_lsh: index+signatures / candidates / full
  windows  — dedup_token_windows: explode+count / full
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 1)


def _cold(spark) -> None:
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist()


def main() -> None:
    sf_dir = sys.argv[1]
    which = sys.argv[2] if len(sys.argv) > 2 else "cosine"
    from go_pq_cdc_kafka_spark.catalog import load_table
    from go_pq_cdc_kafka_spark.operators import scale
    from go_pq_cdc_kafka_spark.operators import similarity as SIM
    from go_pq_cdc_kafka_spark.session import get_spark

    spark = get_spark(app_name=f"profile_{which}")
    out: dict = {"sf_dir": sf_dir, "which": which}

    if which == "buckets":
        from go_pq_cdc_kafka_spark.queries import _cosine_planes

        e = load_table(spark, sf_dir, "embeddings")
        n = e.count()
        planes = _cosine_planes(n)
        hist = (
            e.select(
                SIM.rademacher_lsh_buckets(e, "embedding", 64, planes).alias("b")
            )
            .groupBy("b")
            .count()
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.max("count").alias("max_bucket"),
                F.avg("count").alias("avg_bucket"),
                F.expr("percentile_approx(count, 0.99)").alias("p99_bucket"),
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias(
                    "total_pairs"
                ),
                F.max(F.col("count") * (F.col("count") - 1) / 2).alias(
                    "max_bucket_pairs"
                ),
            )
            .collect()[0]
            .asDict()
        )
        out.update({"n": n, "planes": planes, **{k: float(v) for k, v in hist.items()}})

    elif which == "cosine":
        from go_pq_cdc_kafka_spark.queries import _cosine_planes

        e = load_table(spark, sf_dir, "embeddings")
        n = e.count()
        planes = _cosine_planes(n)
        out["n"], out["planes"] = n, planes
        pj = scale.regime(n).pair_join

        # stage 1: quantized-array table (persist barrier) materialized
        qarr = F.transform(
            F.col("embedding"), lambda x: F.round(x.cast("double") * 1e6).cast("long")
        )
        qv = e.select(F.col("vec_id").alias("_id"), qarr.alias("_qx")).select(
            "_id",
            "_qx",
            F.sqrt(
                F.aggregate(
                    "_qx", F.lit(0).cast("long"), lambda acc, x: acc + x * x
                ).cast("double")
            ).alias("_n"),
        )
        out["t_qv_build"] = _noop(qv)
        _cold(spark)

        # stage 2: candidate pairs only (ids, no arrays)
        b = e.select(
            F.col("vec_id").alias("_id"),
            SIM.rademacher_lsh_buckets(e, "embedding", 64, planes).alias("bucket"),
        )
        a_, b_ = b.alias("a"), b.alias("b")
        cand = a_.join(
            b_,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        ).select(F.col("a._id").alias("vec_a"), F.col("b._id").alias("vec_b"))
        t0 = time.time()
        out["n_candidates"] = cand.count()
        out["t_candidates"] = round(time.time() - t0, 1)
        _cold(spark)

        # stage 3: candidates + FIRST array join (half the scoring spine)
        from pyspark.storagelevel import StorageLevel

        qvp = qv.persist(StorageLevel.MEMORY_AND_DISK)
        pa = qvp.select(
            F.col("_id").alias("vec_a"), F.col("_qx").alias("_xa"),
            F.col("_n").alias("_na"),
        )
        out["t_join1"] = _noop(cand.hint(pj).join(pa, "vec_a"))
        _cold(spark)

        # stage 4: full current-shape query
        out["t_full_current"] = _noop(
            SIM.cosine_dedup_pairs(
                e, dim=64, threshold=0.4, planes=planes, rows=n
            ).orderBy("vec_a", "vec_b")
        )
        _cold(spark)

        # stage 5: bucket-local A/B — arrays attached to the bucketed table
        # once, single self-join on bucket, dot in the post-join projection
        qvb = (
            e.select(
                F.col("vec_id").alias("_id"),
                qarr.alias("_qx"),
                SIM.rademacher_lsh_buckets(e, "embedding", 64, planes).alias(
                    "bucket"
                ),
            )
            .select(
                "_id",
                "_qx",
                "bucket",
                F.sqrt(
                    F.aggregate(
                        "_qx", F.lit(0).cast("long"), lambda acc, x: acc + x * x
                    ).cast("double")
                ).alias("_n"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # rename the bucket on each side: both frames derive from qvb, so
        # an un-renamed self-join condition resolves both sides to the SAME
        # attribute and Catalyst folds it to true (→ accidental all-pairs)
        aa = qvb.select(
            F.col("_id").alias("vec_a"), F.col("_qx").alias("_xa"),
            F.col("_n").alias("_na"), F.col("bucket").alias("bucket_a"),
        )
        bb = qvb.select(
            F.col("_id").alias("vec_b"), F.col("_qx").alias("_xb"),
            F.col("_n").alias("_nb"), F.col("bucket").alias("bucket_b"),
        )
        local = (
            aa.join(
                bb.hint("merge"),
                (F.col("bucket_a") == F.col("bucket_b"))
                & (F.col("vec_a") < F.col("vec_b")),
            )
            .select(
                "vec_a",
                "vec_b",
                F.round(
                    F.aggregate(
                        F.zip_with("_xa", "_xb", lambda x, y: x * y),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    ).cast("double")
                    / (F.col("_na") * F.col("_nb")),
                    12,
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= 0.4)
            .orderBy("vec_a", "vec_b")
        )
        out["t_full_bucket_local"] = _noop(local)
        _cold(spark)

    elif which == "minhash":
        from go_pq_cdc_kafka_spark.operators import dedup as DD
        from go_pq_cdc_kafka_spark.queries import spread_small_scan

        raw = load_table(spark, sf_dir, "documents")
        n = raw.count()
        out["n"] = n
        d = spread_small_scan(raw)
        # stage 1: shingle index materialized
        sh = DD.shingle_index(d, "text", "doc_id", 3)
        out["t_index"] = _noop(sh)
        _cold(spark)
        # stage 2: full (candidates+verify) — per-stage split needs the
        # internal pins, so the delta t_full - t_index approximates the
        # banded join + verification cost
        out["t_full"] = _noop(
            DD.minhash_lsh_pairs(
                d, num_perms=16, bands=4, threshold=0.5, rows=n
            ).orderBy("doc_a", "doc_b")
        )
        _cold(spark)

    elif which == "cosine_bl":
        # bucket-local variants only, with event logging for per-stage
        # attribution: (a) long quantized arrays, (b) int32 quantized
        # arrays (same integer values — micro-units fit int32 for unit-
        # scale embeddings — so cos_sim is bit-identical; halves the
        # array bytes the join carries)
        from pyspark.storagelevel import StorageLevel

        from go_pq_cdc_kafka_spark.queries import _cosine_planes

        e = load_table(spark, sf_dir, "embeddings")
        n = e.count()
        planes = _cosine_planes(n)
        out["n"], out["planes"] = n, planes
        for label, elem_t in (("long", "long"), ("int", "int")):
            qarr = F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * 1e6).cast(elem_t),  # noqa: B023
            )
            qvb = (
                e.select(
                    F.col("vec_id").alias("_id"),
                    qarr.alias("_qx"),
                    SIM.rademacher_lsh_buckets(e, "embedding", 64, planes).alias(
                        "bucket"
                    ),
                )
                .select(
                    "_id",
                    "_qx",
                    "bucket",
                    F.sqrt(
                        F.aggregate(
                            "_qx",
                            F.lit(0).cast("long"),
                            lambda acc, x: acc + x.cast("long") * x.cast("long"),
                        ).cast("double")
                    ).alias("_n"),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            aa = qvb.select(
                F.col("_id").alias("vec_a"), F.col("_qx").alias("_xa"),
                F.col("_n").alias("_na"), F.col("bucket").alias("bucket_a"),
            )
            bb = qvb.select(
                F.col("_id").alias("vec_b"), F.col("_qx").alias("_xb"),
                F.col("_n").alias("_nb"), F.col("bucket").alias("bucket_b"),
            )
            local = (
                aa.join(
                    bb.hint("merge"),
                    (F.col("bucket_a") == F.col("bucket_b"))
                    & (F.col("vec_a") < F.col("vec_b")),
                )
                .select(
                    "vec_a",
                    "vec_b",
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                "_xa", "_xb",
                                lambda x, y: x.cast("long") * y.cast("long"),
                            ),
                            F.lit(0).cast("long"),
                            lambda acc, v: acc + v,
                        ).cast("double")
                        / (F.col("_na") * F.col("_nb")),
                        12,
                    ).alias("cos_sim"),
                )
                .filter(F.col("cos_sim") >= 0.4)
                .orderBy("vec_a", "vec_b")
            )
            out[f"t_bucket_local_{label}"] = _noop(local)
            _cold(spark)

    elif which == "cramers":
        # same-box A/B for the round-11 contingency rewrite: the OLD
        # raw-join shape vs the registry's pivoted pre-aggregate shape
        from go_pq_cdc_kafka_spark.queries import REGISTRY

        o = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderpriority"
        )
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        old_cells = (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy(
                F.col("c_mktsegment").alias("segment"),
                F.col("o_orderpriority").alias("priority"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        )
        out["t_cells_old_join_then_group"] = _noop(old_cells)
        _cold(spark)
        out["t_full_new"] = _noop(REGISTRY["agg_cramers_v"].fn(spark, sf_dir))
        _cold(spark)

    elif which == "windows":
        from go_pq_cdc_kafka_spark.queries import REGISTRY

        d = load_table(spark, sf_dir, "documents")
        toks = F.split(F.col("text"), " ")
        grams = F.transform(
            F.sequence(F.lit(1), F.size(F.col("_toks")) - F.lit(7)),
            lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 8)),
        )
        exploded = (
            d.select("doc_id", toks.alias("_toks"))
            .filter(F.size(F.col("_toks")) >= 8)
            .select("doc_id", F.explode(grams).alias("gram"))
        )
        t0 = time.time()
        out["n_grams"] = exploded.count()
        out["t_explode_count"] = round(time.time() - t0, 1)
        _cold(spark)
        out["t_full"] = _noop(REGISTRY["dedup_token_windows"].fn(spark, sf_dir))
        _cold(spark)

    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
