"""Round-12 optimization regression tests.

Each optimization changed an operator's internals while keeping results
bit-identical; these tests pin (a) the new plan shapes — deterministic-hash
spread, single shared window/sort exchange, probe-side spread under
broadcast joins — and (b) result identity for the restructured MinHash
verify path (its per-regime tests live in test_minhash_pairs.py).
"""

import os

import pyspark.sql.functions as F

from go_pq_cdc_kafka_spark.catalog import load_table, spread_small_scan
from go_pq_cdc_kafka_spark.operators import dedup as DD
from go_pq_cdc_kafka_spark.queries import REGISTRY

SF = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def test_spread_key_cols_plans_hash_partitioning_without_sort(spark):
    """key_cols spread = hashpartitioning(xxhash64(...)) — deterministic, so
    Spark must NOT insert the round-robin retry sort below the exchange."""
    df = load_table(spark, SF, "documents")
    plan = _plan(spread_small_scan(df, key_cols=("doc_id",)))
    assert "xxhash64" in plan and "hashpartitioning" in plan
    assert "roundrobin" not in plan.lower()
    # no sort anywhere: the spread is the only operator above the scan
    assert ") Sort" not in plan


def test_spread_default_stays_round_robin_for_pruning(spark):
    """The no-key default must remain round-robin: a content-hash over all
    columns would block column pruning below the exchange (caught by
    test_token_diversity_partial_final_aggs in round 12)."""
    df = load_table(spark, SF, "documents")
    plan = _plan(spread_small_scan(df))
    assert "ROUND_ROBIN" in plan or "roundrobin" in plan.lower()


def test_lww_and_topk_share_one_exchange(spark):
    """RangePartitioning(key) serves both the window clustering and the
    final orderBy — exactly one exchange node in each plan."""
    for name in ("cdc_lww_materialize", "window_topk_per_group"):
        plan = _plan(REGISTRY[name].fn(spark, SF))
        import re

        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange == 1, (name, n_exchange)
        assert "rangepartitioning" in plan


def test_multiway_fact_spread_keeps_broadcast_dims(spark):
    """The probe-side spread must not change join strategy: dims still
    broadcast, the fact side never sort-merge-joins at oracle SF."""
    plan = _plan(REGISTRY["join_multiway_fact"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "xxhash64" in plan  # the deterministic spread
    assert "CartesianProduct" not in plan


def test_pricing_summary_filter_still_pushed(spark):
    """Spreading after filter+project must leave the shipdate predicate in
    PushedFilters and the read schema at the 7 referenced columns."""
    plan = _plan(REGISTRY["agg_pricing_summary"].fn(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_minhash_signature_carries_exact_sizes(spark):
    """n_sh from the signature pass == the per-doc distinct-shingle count
    the old separate aggregation produced."""
    from go_pq_cdc_kafka_spark.operators.dedup import (
        _signatures_from_index,
        shingle_index,
    )

    d = load_table(spark, SF, "documents")
    sh = shingle_index(d)
    sig = _signatures_from_index(sh, 4, with_count=True)
    direct = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_direct")
    )
    joined = sig.select("doc_id", "n_sh").join(direct, "doc_id")
    assert joined.filter(F.col("n_sh") != F.col("n_direct")).count() == 0


def test_triangle_plan_has_single_intersect_subtree(spark):
    """The per-node credit union used to re-derive the adjacency intersect
    once per corner branch (3x the dominant compute); the single-explode
    credit pass must leave exactly ONE array_intersect in the plan's
    operator list (it prints once in the Project detail and once in the
    Filter that references its size)."""
    from go_pq_cdc_kafka_spark.operators.cluster import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    plan = _plan(triangle_count(edges, strategy="adjacency"))
    assert plan.count("array_intersect") <= 2, plan.count("array_intersect")
    # wedge path: corners credit via ONE explode; the only union left is
    # the (lo, hi) degree union — the 3-branch corner union re-ran the
    # closing join per branch
    # wedge path: the (apex, x, y) corners credit via ONE explode over
    # the closing join instead of a 3-branch union that re-ran it (the
    # remaining Union nodes in the printed plan are the lo/hi degree
    # union, whose subtree legitimately replicates pre-AQE)
    plan_w = _plan(triangle_count(edges, strategy="wedge"))
    assert "explode(array(apex" in plan_w


def test_simhash_hamming_filter_below_dedup_exchange(spark):
    """The hamming verify must run BEFORE the candidate distinct: the
    filter is constant-time per row while the distinct shuffles its whole
    input, and at scale the candidate set is dominated by random band
    collisions that fail the check. Pin: no bare candidate aggregate
    without the hamming predicate below it."""
    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{(i + 1) % 5} tok{(i + 2) % 7}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(DD.simhash_pairs(docs, bits=32, bands=4, max_hamming=3))
    # the distinct's partial HashAggregate sits above the hamming Filter:
    # the Filter node must appear deeper (later operator id) than no
    # aggregate that consumes it — cheap structural pin: the plan's first
    # HashAggregate over (doc_a, doc_b, hamming) has a Filter child
    # mentioning the threshold
    agg_pos = plan.find("HashAggregate")
    filt_pos = plan.find("<= 3")
    assert agg_pos != -1 and filt_pos != -1
    assert filt_pos > agg_pos  # details section lists Filter under the agg


def test_sim_corpus_spreads_plan_deterministic_hash(spark):
    """The similarity queries spread the corpus with a keyed deterministic
    hash; the plan must show hashpartitioning(xxhash64(vec_id)) and the
    scan must stay pruned to the consumed columns."""
    for name in ("sim_rp_topk", "sim_lsh_topk", "sim_ivf_topk"):
        plan = _plan(REGISTRY[name].fn(spark, SF))
        assert "xxhash64(vec_id" in plan, name
        assert "roundrobin" not in plan.lower(), name


def test_agg_stats_spread_and_projection(spark):
    """agg_stats spreads only the 3-column projection: deterministic-hash
    exchange present, read schema pruned to the consumed columns."""
    plan = _plan(REGISTRY["agg_stats"].fn(spark, SF))
    assert "xxhash64" in plan and "hashpartitioning" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_ivf_assign_argmax_matches_window_form(spark):
    """nprobe=1 assignment is a max(struct) aggregate; it must pick the
    same (vector, centroid) rows the row_number window picked — including
    the asc-centroid_id tie-break — and the plan must contain no Window."""
    from pyspark.sql import Window

    from go_pq_cdc_kafka_spark.operators import similarity as SIM

    e = load_table(spark, SF, "embeddings")
    cents = (
        e.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").cast("long").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        .localCheckpoint(eager=True)
    )
    new = SIM.ivf_assign(e, cents, "vec_id", "embedding", "vid", exact=False)
    assert "Window" not in _plan(new)
    # reference: the old window formulation, inlined
    _n = SIM.fast_norm
    _c = SIM.fast_cosine_from_norms
    cw = cents.select(
        "centroid_id", "centroid_vec", _n(F.col("centroid_vec")).alias("_cn")
    )
    w = Window.partitionBy("_aid").orderBy(
        F.col("_ccos").desc(), F.col("centroid_id")
    )
    old = (
        e.select(
            F.col("vec_id").alias("_aid"),
            F.col("embedding").alias("_av"),
            _n(F.col("embedding")).alias("_an"),
        )
        .join(F.broadcast(cw))
        .select(
            "_aid",
            "_an",
            "centroid_id",
            _c(
                F.col("_av"), F.col("centroid_vec"), F.col("_an"), F.col("_cn")
            ).alias("_ccos"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select(
            F.col("_aid").alias("vid"),
            F.col("_an").alias("_vnorm"),
            F.col("centroid_id").alias("cluster"),
        )
    )
    new_sel = new.select("vid", "_vnorm", "cluster")
    assert new_sel.exceptAll(old).count() == 0
    assert old.exceptAll(new_sel).count() == 0


def test_star_rounds_match_reference_sets(spark):
    """The window-min star rewirings (and the fused dedup=False round) are
    set-identical to the paper-literal groupBy+join formulation."""
    from go_pq_cdc_kafka_spark.operators import cluster as CL

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 10), (7, 7), (12, 11)],
        "u long, v long",
    )

    def ref_large(edges):
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
        )
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def ref_small(edges):
        oriented = edges.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        ).where(F.col("u") != F.col("v"))
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        return (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    got_l = {(r.u, r.v) for r in CL._large_star(edges).collect()}
    exp_l = {(r.u, r.v) for r in ref_large(edges).collect()}
    assert got_l == exp_l
    got_s = {(r.u, r.v) for r in CL._small_star(edges).collect()}
    exp_s = {(r.u, r.v) for r in ref_small(edges).collect()}
    assert got_s == exp_s
    # the fused round (dedup=False into small-star) equals the two-dedup round
    fused = {
        (r.u, r.v)
        for r in CL._small_star(CL._large_star(edges, dedup=False)).collect()
    }
    staged = {(r.u, r.v) for r in ref_small(ref_large(edges)).collect()}
    assert fused == staged


def test_pagerank_broadcast_gate_is_score_identical(spark, monkeypatch):
    """Scores must be bit-identical whether the node-bounded tables ride
    the broadcast gate or the scale-path shuffle joins."""
    from go_pq_cdc_kafka_spark.operators import cluster as CL

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (2, 1), (1, 2)],
        "src long, dst long",
    )
    fast = {(r.node, r.score) for r in CL.pagerank_fixed(edges, 3).collect()}
    monkeypatch.setattr(CL, "_NODE_BCAST_GATE", 0)
    slow = {(r.node, r.score) for r in CL.pagerank_fixed(edges, 3).collect()}
    assert fast == slow


def test_bucketed_running_sum_fused_outputs_match_separate_helpers(spark):
    """rank_name/total_name/count_name must reproduce bucketed_row_number,
    the per-group weight total, and the group row count exactly — and the
    fused local window must stay ONE Window node over one exchange."""
    from go_pq_cdc_kafka_spark.operators import sampling as SA

    df = spark.createDataFrame(
        [("a", i, (i * 7) % 5 + 1) for i in range(40)]
        + [("b", i, (i * 3) % 4 + 2) for i in range(25)],
        "g string, k long, w long",
    )
    bucket = (F.col("k") / 10).cast("int")
    fused = SA.bucketed_running_sum(
        df, ["g"], bucket, [F.col("k").asc()], F.col("w"), "cum",
        rank_name="rk", total_name="tot", count_name="cnt",
    )
    sep_sum = SA.bucketed_running_sum(
        df, ["g"], bucket, [F.col("k").asc()], F.col("w"), "cum"
    )
    sep_rank = SA.bucketed_row_number(
        df, ["g"], bucket, [F.col("k").asc()], "rk"
    )
    sep_tot = df.groupBy("g").agg(
        F.sum("w").alias("tot"), F.count(F.lit(1)).alias("cnt")
    )
    exp = (
        sep_sum.join(sep_rank.select("g", "k", "rk"), ["g", "k"])
        .join(sep_tot, "g")
        .select("g", "k", "w", "cum", "rk", "tot", "cnt")
    )
    got = fused.select("g", "k", "w", "cum", "rk", "tot", "cnt")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # the sum + row_number collapse into one corpus Window (the other two
    # Window nodes run over the bounded bucket panel)
    plan = _plan(fused)
    assert plan.count("row_number()") <= 2  # initial+final sections only
