"""Round-13 optimization regression tests.

Round 13 made the nprobe=1 nearest-centroid assignment MAP-LOCAL (a
broadcast centroid array + ``array_max(transform(...))`` instead of the
round-12 ``max(struct(...))`` aggregate): assignment now plans ZERO
exchanges, and Lloyd training's only per-round exchange is the tiny
(cluster, pos) means panel. These tests pin (a) the zero-exchange plan
shape and (b) row-identity of the map-local pick against the round-12
aggregate formulation — including the asc-centroid-id tie-break — for
both the flat and the two-level (hierarchical) assignment.
"""

import os

import pyspark.sql.functions as F

from go_pq_cdc_kafka_spark.catalog import load_table
from go_pq_cdc_kafka_spark.operators import similarity as SIM

SF = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def _seed_cents(e, n):
    return (
        e.orderBy("vec_id")
        .limit(n)
        .select(
            F.col("vec_id").cast("long").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        .localCheckpoint(eager=True)
    )


def _aggregate_argmax_reference(e, cents, exact):
    """The round-12 formulation, inlined: score N x k rows through a
    broadcast join, then groupBy(vec).max(struct(score, -id, ..., id))."""
    _norm = SIM.norm if exact else SIM.fast_norm
    _cos = SIM.cosine_from_norms if exact else SIM.fast_cosine_from_norms
    cw = cents.select(
        "centroid_id", "centroid_vec", _norm(F.col("centroid_vec")).alias("_cn")
    )
    scored = (
        e.select(
            F.col("vec_id").alias("_aid"),
            F.col("embedding").alias("_av"),
            _norm(F.col("embedding")).alias("_an"),
        )
        .join(F.broadcast(cw))
        .select(
            "_aid",
            "_av",
            "_an",
            "centroid_id",
            _cos(
                F.col("_av"), F.col("centroid_vec"), F.col("_an"), F.col("_cn")
            ).alias("_ccos"),
        )
    )
    best = scored.groupBy("_aid").agg(
        F.max(
            F.struct(
                F.col("_ccos"),
                (-F.col("centroid_id")).alias("_neg"),
                F.col("_av"),
                F.col("_an"),
                F.col("centroid_id").alias("_pick"),
            )
        ).alias("_b")
    )
    return best.select(
        F.col("_aid").alias("vid"),
        F.col("_b._av").alias("embedding"),
        F.col("_b._an").alias("_vnorm"),
        F.col("_b._pick").alias("cluster"),
    )


def test_ivf_assign_nprobe1_plans_zero_exchanges(spark):
    """The map-local argmax must add NO exchange of its own: the only
    Exchange in the plan is the broadcast of the collapsed centroid
    array (which is not a shuffle)."""
    e = load_table(spark, SF, "embeddings")
    cents = _seed_cents(e, 8)
    plan = _plan(SIM.ivf_assign(e, cents, "vec_id", "embedding", "vid"))
    body = plan.split("(1) Scan")[0]
    # no shuffle exchange anywhere in the assignment subtree; the
    # centroid collapse is a broadcast exchange, allowed
    shuffles = [
        ln
        for ln in body.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "Single" not in ln
    ]
    assert not shuffles, shuffles
    assert "Window" not in body


def test_ivf_assign_maplocal_matches_aggregate_form(spark):
    """Map-local pick == round-12 aggregate pick, both scorers."""
    e = load_table(spark, SF, "embeddings")
    cents = _seed_cents(e, 8)
    for exact in (True, False):
        new = SIM.ivf_assign(e, cents, "vec_id", "embedding", "vid", exact=exact)
        old = _aggregate_argmax_reference(e, cents, exact)
        assert new.exceptAll(old).count() == 0, exact
        assert old.exceptAll(new).count() == 0, exact


def test_hierarchical_assign_maplocal_matches_joined_form(spark):
    """Two-level map-local routing == the round-12 aggregate/join
    formulation, stage for stage (same coarse routing, same fine pick)."""
    e = load_table(spark, SF, "embeddings")
    cents = _seed_cents(e, 9)
    new = SIM.hierarchical_assign(
        e, cents, coarse_n=3, id_col="vec_id", vec="embedding", out_id="vid"
    )
    # reference: route via the aggregate form, then fine-pick via the
    # aggregate form over the routed join
    cw = cents.select(
        "centroid_id",
        "centroid_vec",
        SIM.fast_norm(F.col("centroid_vec")).alias("_cn"),
    )
    coarse = (
        cw.orderBy("centroid_id")
        .limit(3)
        .select(
            F.col("centroid_id").alias("coarse_id"),
            F.col("centroid_vec").alias("_cov"),
            F.col("_cn").alias("_con"),
        )
    )

    def agg_pick(rows, side, key_out):
        best = rows.groupBy("_aid").agg(
            F.max(
                F.struct(
                    F.col("_s"),
                    (-F.col(side)).alias("_neg"),
                    F.col("_av"),
                    F.col("_an"),
                    F.col(side).alias("_pick"),
                )
            ).alias("_b")
        )
        return best.select(
            F.col("_aid"),
            F.col("_b._av").alias("_av"),
            F.col("_b._an").alias("_an"),
            F.col("_b._pick").alias(key_out),
        )

    base = e.select(
        F.col("vec_id").alias("_aid"),
        F.col("embedding").alias("_av"),
        SIM.fast_norm(F.col("embedding")).alias("_an"),
    )
    routed = agg_pick(
        base.join(F.broadcast(coarse)).withColumn(
            "_s",
            SIM.fast_cosine_from_norms(
                F.col("_av"), F.col("_cov"), F.col("_an"), F.col("_con")
            ),
        ),
        "coarse_id",
        "coarse_id",
    )
    fine_map = (
        cw.select(
            F.col("centroid_id").alias("_aid"),
            F.col("centroid_vec").alias("_av"),
            F.col("_cn").alias("_an"),
        )
        .join(F.broadcast(coarse))
        .withColumn(
            "_s",
            SIM.fast_cosine_from_norms(
                F.col("_av"), F.col("_cov"), F.col("_an"), F.col("_con")
            ),
        )
    )
    fine_map = agg_pick(fine_map, "coarse_id", "coarse_id").select(
        F.col("_aid").alias("centroid_id"),
        F.col("_av").alias("centroid_vec"),
        F.col("_an").alias("_fn"),
        "coarse_id",
    )
    final = agg_pick(
        routed.join(F.broadcast(fine_map), "coarse_id").withColumn(
            "_s",
            SIM.fast_cosine_from_norms(
                F.col("_av"), F.col("centroid_vec"), F.col("_an"), F.col("_fn")
            ),
        ),
        "centroid_id",
        "cluster",
    ).select(
        F.col("_aid").alias("vid"),
        F.col("_av").alias("embedding"),
        F.col("_an").alias("_vnorm"),
        F.col("cluster"),
    )
    assert new.exceptAll(final).count() == 0
    assert final.exceptAll(new).count() == 0
