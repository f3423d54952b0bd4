"""Unit tests for the curation batch: cluster resolution, deterministic
sampling, sequence packing, PII redaction."""

import pyspark.sql.functions as F

from go_pq_cdc_kafka_spark.functions import text as T
from go_pq_cdc_kafka_spark.operators import cluster as CL
from go_pq_cdc_kafka_spark.operators import packing as PK
from go_pq_cdc_kafka_spark.operators import sampling as SA


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_connected_components_chain_merges_transitively(spark):
    # 1-2, 2-3 chain plus an isolated 7-8 edge: transitivity without a
    # scored 1-3 pair is exactly what pair-level dedup cannot express.
    got = {
        (r.doc_id, r.cluster_id)
        for r in CL.connected_components(
            _pairs(spark, [(1, 2), (2, 3), (7, 8)])
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}


def test_connected_components_long_path_converges(spark):
    # A 12-node path is an adversarially deep graph for min-propagation
    # (diameter 11); the loop must still reach the fixpoint.
    edges = [(i, i + 1) for i in range(1, 12)]
    rows = CL.connected_components(_pairs(spark, edges)).collect()
    assert {r.cluster_id for r in rows} == {1}
    assert len(rows) == 12


def test_bfs_min_hops_levels_and_bound(spark):
    # path 1-2-3-4-5 seeded at 1: hop levels are exact, and node 5 is
    # outside the 3-hop bound.
    edges = [(i, i + 1) for i in range(1, 5)]
    seeds = spark.createDataFrame([(1,)], "doc_id long")
    got = {
        (r.doc_id, r.min_hops)
        for r in CL.bfs_min_hops(_pairs(spark, edges), seeds, max_hops=3).collect()
    }
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3)}


def test_bfs_min_hops_clique_stays_node_bounded(spark):
    # A 200-node clique (19,900 edges) is the adversarial input for
    # path-enumerating BFS: a recursive UNION ALL would generate
    # O(200^3) ≈ 8e6 frontier rows within the 3-hop bound, while the
    # node-frontier loop touches each node once per level. The whole run
    # must finish promptly AND return exactly one row per node (min-hops
    # semantics: every non-seed node is 1 hop from the seed).
    import itertools
    import time

    n = 200
    edges = list(itertools.combinations(range(n), 2))
    seeds = spark.createDataFrame([(0,)], "doc_id long")
    t0 = time.monotonic()
    rows = CL.bfs_min_hops(_pairs(spark, edges), seeds, max_hops=3).collect()
    elapsed = time.monotonic() - t0
    assert len(rows) == n
    assert {r.min_hops for r in rows} == {0, 1}
    # generous local-mode budget; the path-enumerating version spins for
    # far longer on this fixture
    assert elapsed < 60, f"clique BFS took {elapsed:.1f}s — frontier not node-bounded?"


def test_cluster_survivors_counts(spark):
    members = CL.connected_components(_pairs(spark, [(5, 9), (9, 11), (20, 21)]))
    got = {
        (r.cluster_id, r.keeper, r.n_members)
        for r in CL.cluster_survivors(members).collect()
    }
    assert got == {(5, 5, 3), (20, 20, 2)}


def test_stratified_sample_is_partitioning_invariant(spark):
    df = spark.range(0, 400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("lang")
    )
    a = SA.stratified_sample(df, ["lang"], 5, "doc_id")
    b = SA.stratified_sample(df.repartition(13), ["lang"], 5, "doc_id")
    rows_a = sorted((r.lang, r.sample_rank, r.doc_id) for r in a.collect())
    rows_b = sorted((r.lang, r.sample_rank, r.doc_id) for r in b.collect())
    assert rows_a == rows_b  # same sample regardless of physical layout
    per = {}
    for lang, _, _ in rows_a:
        per[lang] = per.get(lang, 0) + 1
    assert per == {"0": 5, "1": 5, "2": 5}


def test_hash_fraction_sample_stable_under_append(spark):
    base = spark.range(0, 1000).withColumnRenamed("id", "event_id")
    grown = spark.range(0, 2000).withColumnRenamed("id", "event_id")
    picked_base = {r.event_id for r in SA.hash_fraction_sample(base, "event_id", 0.2).collect()}
    picked_grown = {r.event_id for r in SA.hash_fraction_sample(grown, "event_id", 0.2).collect()}
    # old rows keep their verdict when the corpus grows
    assert picked_base == {e for e in picked_grown if e < 1000}
    # rate is in the right ballpark for a uniform hash
    assert 0.15 < len(picked_grown) / 2000 < 0.25


def test_pack_greedy_bin_assignment(spark):
    df = spark.createDataFrame(
        [("en", 1, 600), ("en", 2, 600), ("en", 3, 600), ("en", 4, 600), ("de", 5, 50)],
        "lang string, doc_id long, cost long",
    )
    got = {
        r.doc_id: r.pack_id
        for r in PK.pack_greedy(df, "cost", 1000, ["lang"], "doc_id").collect()
    }
    # running totals before each doc: 0, 600, 1200, 1800 → bins 0,0,1,1
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}


def test_redact_pii_tags_and_counts(spark):
    df = spark.createDataFrame(
        [("write a@b.io or +90-555-1234 today",), ("no pii here",)], "t string"
    )
    rows = df.select(
        T.redact_pii(F.col("t")).alias("red"),
        T.email_count(F.col("t")).alias("ne"),
        T.phone_count(F.col("t")).alias("np"),
    ).collect()
    assert rows[0].red == "write <EMAIL> or <PHONE> today"
    assert (rows[0].ne, rows[0].np) == (1, 1)
    assert rows[1].red == "no pii here" and rows[1].ne == 0 and rows[1].np == 0


def test_domain_mixture_rates_and_stability(spark):
    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    out = SA.domain_mixture_sample(df, "lang", {"en": 0.8, "zh": 0.2}, "doc_id")
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 2000 candidates per lang; hash-Bernoulli keeps ~rate +- a few %
    assert abs(got["en"] / 2000 - 0.8) < 0.05
    assert abs(got["zh"] / 2000 - 0.2) < 0.05
    # weight-0 (absent) domains are dropped entirely
    df2 = df.withColumn("lang", F.lit("fr"))
    assert SA.domain_mixture_sample(df2, "lang", {"en": 0.8}, "doc_id").count() == 0
    # determinism: same rows selected on a repartitioned input
    a = {r.doc_id for r in out.collect()}
    b = {
        r.doc_id
        for r in SA.domain_mixture_sample(
            df.repartition(13), "lang", {"en": 0.8, "zh": 0.2}, "doc_id"
        ).collect()
    }
    assert a == b


# -- duplicated-span removal (CCNet line/block dedup) ------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_block_removal_line_mode_strips_boilerplate(spark):
    # delim='\n', width=1 == classic CCNet line-level dedup: the cookie
    # banner shared by docs 1 and 2 is removed everywhere; unique lines
    # survive in original order; doc 3 (banner-only) comes back empty.
    from go_pq_cdc_kafka_spark.operators import dedup as DD

    d = _docs(
        spark,
        [
            (1, "accept cookies\nalpha unique\nbravo unique"),
            (2, "accept cookies\ncharlie unique"),
            (3, "accept cookies"),
        ],
    )
    got = {
        r.doc_id: (r.kept_blocks, r.removed_blocks, r.text_clean)
        for r in DD.duplicate_block_removal(
            d, width=1, min_docs=2, delim="\n"
        ).collect()
    }
    assert got == {
        1: (2, 1, "alpha unique\nbravo unique"),
        2: (1, 1, "charlie unique"),
        3: (0, 1, ""),
    }


def test_block_removal_preserves_order_and_ragged_tail(spark):
    # width=2 over a 5-token doc: blocks are [a b][c d][e]; only the block
    # duplicated across docs is dropped and the ragged tail survives.
    from go_pq_cdc_kafka_spark.operators import dedup as DD

    d = _docs(spark, [(1, "a b c d e"), (2, "x y c d z")])
    got = {
        r.doc_id: r.text_clean
        for r in DD.duplicate_block_removal(d, width=2, min_docs=2).collect()
    }
    assert got == {1: "a b e", 2: "x y z"}


def test_block_removal_regex_metachar_delim_is_literal(spark):
    # '.' is a regex metachar: F.split gets the escaped pattern while
    # reassembly uses the raw string — without the escape every character
    # becomes its own token and block boundaries silently corrupt.
    from go_pq_cdc_kafka_spark.operators import dedup as DD

    d = _docs(spark, [(1, "spam.alpha.beta"), (2, "spam.gamma"), (3, "spam")])
    got = {
        r.doc_id: (r.kept_blocks, r.text_clean)
        for r in DD.duplicate_block_removal(
            d, width=1, min_docs=2, delim="."
        ).collect()
    }
    assert got == {1: (2, "alpha.beta"), 2: (1, "gamma"), 3: (0, "")}


def test_block_removal_plan_shape(spark):
    from go_pq_cdc_kafka_spark.operators import dedup as DD

    d = _docs(spark, [(1, "a b"), (2, "a b")])
    qe = DD.duplicate_block_removal(d)._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan  # blocking is pure Column exprs


def test_pagerank_fixed_hand_computed_star(spark):
    # star 2->1, 3->1, 4->1 plus 1->2: hand-computable in micro-units.
    # N=4, scale=1000 -> s0=250, base=(15*250)//100=37.
    # it1: contrib(1)=250+250+250=750 -> 37+(85*750)//100=37+637=674
    #      contrib(2)=250//1=250      -> 37+212=249
    #      contrib(3)=contrib(4)=0    -> 37
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (1, 2)], "src long, dst long"
    )
    got = {
        (r.node, r.score)
        for r in CL.pagerank_fixed(edges, iterations=1, scale=1000).collect()
    }
    assert got == {(1, 674), (2, 249), (3, 37), (4, 37)}


def test_pagerank_fixed_mass_bounded_and_deterministic(spark):
    # integer floors only ever LOSE probability mass: total score stays
    # <= scale after any number of iterations; and two runs over a
    # shuffled edge order produce identical scores (the whole point of
    # fixed-point arithmetic).
    import random

    edges = [(i, (i * 7 + 3) % 23) for i in range(60)] + [(5, 11), (5, 11)]
    edges = [e for e in edges if e[0] != e[1]]
    rng = random.Random(42)
    shuffled = edges[:]
    rng.shuffle(shuffled)
    df1 = spark.createDataFrame(edges, "src long, dst long")
    df2 = spark.createDataFrame(shuffled, "src long, dst long").repartition(7)
    s1 = {(r.node, r.score) for r in CL.pagerank_fixed(df1, iterations=3).collect()}
    s2 = {(r.node, r.score) for r in CL.pagerank_fixed(df2, iterations=3).collect()}
    assert s1 == s2
    assert sum(s for _, s in s1) <= 1_000_000_000_000


def test_triangle_count_k4_plus_pendant(spark):
    # K4 on {1,2,3,4}: every node sits in C(3,2)=3 triangles. Node 5 hangs
    # off node 1 (pendant, 0 triangles). Duplicate/reversed/self edges
    # must canonicalize away.
    import itertools

    edges = list(itertools.combinations([1, 2, 3, 4], 2))
    edges += [(4, 3), (5, 1), (1, 5), (2, 2)]  # dup reversed, pendant, loop
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node, r.deg, r.triangles) for r in CL.triangle_count(df).collect()}
    assert got == {
        (1, 4, 3), (2, 3, 3), (3, 3, 3), (4, 3, 3), (5, 1, 0),
    }


def test_triangle_count_triangle_free_graph(spark):
    # a path and a star have no triangles at all
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = CL.triangle_count(df).collect()
    assert all(r.triangles == 0 for r in rows)
    assert {r.node for r in rows} == {1, 2, 3, 4, 10, 11, 12, 13}


def test_triangle_count_adjacency_strategy_matches_wedge(spark):
    # the round-12 broadcast-adjacency path must count exactly what the
    # wedge join counts, per node — on a messy pseudo-random multigraph
    # (dups, reversed edges, self-loops) and on the K4+pendant fixture
    import itertools

    rnd = [((i * 7919) % 23, (i * 104729) % 23) for i in range(400)]
    k4 = list(itertools.combinations([100, 101, 102, 103], 2))
    k4 += [(103, 102), (104, 100), (100, 104), (101, 101)]
    for edges in (rnd, k4):
        df = spark.createDataFrame(edges, "src long, dst long")
        wedge = {
            (r.node, r.deg, r.triangles)
            for r in CL.triangle_count(df, strategy="wedge").collect()
        }
        adjacency = {
            (r.node, r.deg, r.triangles)
            for r in CL.triangle_count(df, strategy="adjacency").collect()
        }
        assert wedge == adjacency
        assert wedge  # non-degenerate fixture


def test_simhash_pairs_banding_complete_below_bands(spark):
    """Pigeonhole completeness: identical docs pair at hamming 0; docs
    differing in only a couple of rare tokens stay within the threshold;
    unrelated docs with distant fingerprints never pair."""
    from go_pq_cdc_kafka_spark.operators.dedup import simhash, simhash_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
            (3, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup
            (4, "one two three four five six seven eight nine"),   # unrelated
        ],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=6).collect()
    }
    assert pairs[(1, 2)] == 0  # exact dup always found
    ham_13 = bin(fp[1] ^ fp[3]).count("1")
    if ham_13 <= 6:  # near-dup within threshold must be found...
        assert pairs[(1, 3)] == ham_13
    assert (1, 4) not in pairs or pairs[(1, 4)] > 0
    # every reported pair satisfies the exact-threshold contract
    assert all(h <= 6 for h in pairs.values())
    assert all(
        bin(fp[a] ^ fp[b]).count("1") == h for (a, b), h in pairs.items()
    )


# ---------------------------------------------------------------------------
# round-6 additions: incremental minhash dedup, random-projection ANN,
# pretrained linear quality classifier
# ---------------------------------------------------------------------------


def test_incremental_minhash_flags_batch_dups_only(spark):
    from go_pq_cdc_kafka_spark.operators import dedup as DD

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (3, "completely unrelated corpus text about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # exact dup of corpus doc 1
            (100, "the quick brown fox jumps over the lazy dog again today"),
            # unrelated new doc — must survive
            (101, "novel content with no overlap whatsoever in any shingle"),
        ],
        "doc_id long, text string",
    )
    pairs = DD.minhash_incremental_pairs(
        corpus, batch, num_perms=16, bands=4, threshold=0.5, rows=4
    ).collect()
    got = {(r.new_doc, r.dup_of) for r in pairs}
    assert got == {(100, 1)}
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in pairs)


def test_incremental_minhash_never_pairs_within_sets(spark):
    """Two identical docs INSIDE the batch (or corpus) must not pair with
    each other — the operator's contract is strictly cross-set."""
    from go_pq_cdc_kafka_spark.operators import dedup as DD

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "identical twin text in the new batch here today"),
            (101, "identical twin text in the new batch here today"),
        ],
        "doc_id long, text string",
    )
    assert (
        DD.minhash_incremental_pairs(
            corpus, batch, threshold=0.1, rows=3
        ).count()
        == 0
    )


def test_rp_topk_self_is_rank_one_and_exact_cosine(spark):
    from go_pq_cdc_kafka_spark.operators import similarity as SIM

    import math

    dim = 8
    rows = [
        (i, [math.sin(i * dim + d) for d in range(dim)]) for i in range(20)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = SIM.rp_cosine_topk(
        e.filter(F.col("vec_id") < 2), e, dim=dim, out_dim=4, k=3, rerank=3
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rk)
        # the query itself survives the sketch stage and re-ranks to #1
        assert rs[0].neighbor_id == q
        assert abs(rs[0].cos_sim - 1.0) < 1e-9
        assert len(rs) == 3


def test_quality_classifier_matches_hand_hash(spark):
    """The registry query's score must equal a driver-side recomputation of
    the same md5 weight function on a known document."""
    import hashlib
    import shutil
    import tempfile
    import os

    from go_pq_cdc_kafka_spark.queries import REGISTRY

    tmp = tempfile.mkdtemp()
    try:
        doc = "spark rows and columns and rows"
        spark.createDataFrame(
            [(0, doc, "en", "src0", len(doc))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        row = REGISTRY["quality_classifier_score"].fn(spark, tmp).collect()[0]

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        score = sum(
            (h64(f"qw:{h64(t) % 512}") % 2001) - 1000 for t in doc.split()
        )
        assert row.n_tokens == 6
        assert row.score == score
        assert row.keep == (score > 0)
        assert abs(row.score_per_token - score / 6) < 1e-12
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_token_budget_mixture_respects_budgets_and_priority(spark):
    import hashlib

    rows = [
        (i, "w " * (i % 5 + 1), "en", "a" if i < 50 else "b", 1)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = SA.token_budget_mixture(
        df, "source", {"a": 20, "b": 7}, "doc_id"
    ).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, []).append(r)
    # inclusive running total never exceeds the budget
    assert max(r.cum_tokens for r in by_src["a"]) <= 20
    assert max(r.cum_tokens for r in by_src["b"]) <= 7
    # priority order is the md5 hash of the doc id — recompute and check
    # the selected set is a PREFIX of that order
    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    for src, lo, hi in (("a", 0, 50), ("b", 50, 100)):
        order = sorted(range(lo, hi), key=lambda i: (h(i), i))
        picked = {r.doc_id for r in by_src[src]}
        prefix = set()
        total = 0
        for i in order:
            total += (i % 5) + 1
            if total > {"a": 20, "b": 7}[src]:
                break
            prefix.add(i)
        assert picked == prefix


def test_leakage_safe_split_never_straddles_clusters(spark):
    """The property the operator exists for: every near-dup cluster lands
    wholly inside ONE split, and the split covers all docs exactly once."""
    from go_pq_cdc_kafka_spark.queries import REGISTRY

    rows = REGISTRY["sample_split_leakage_safe"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == len({r.doc_id for r in rows})  # total, no dupes
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # the fixture replicates texts, so real multi-doc clusters exist and
    # the property is not vacuous; all three splits are populated
    assert any(len({r.doc_id for r in rows if r.cluster_id == c}) > 1
               for c in by_cluster)
    assert {r.split for r in rows} == {"train", "val", "test"}


def test_simhash_two_word_banding_equals_brute_force(spark):
    """The widened (>60-bit) fingerprint introduced by the round-10 sf100
    sweep: two independent 60-bit words, bands aligned to word
    boundaries. The banded candidate join + exact verification must
    equal brute-force all-pairs Hamming over BOTH words — exactness and
    pigeonhole completeness of the two-word layout in one assert."""
    from go_pq_cdc_kafka_spark.operators.dedup import simhash, simhash_pairs

    rows = [
        (i, " ".join(f"tok{(i * 7 + k) % 23}" for k in range(12)))
        for i in range(40)
    ]
    # exact dups + a one-token near-dup guarantee non-trivial low-distance
    # pairs inside the completeness regime
    rows += [(100 + i, rows[i][1]) for i in range(5)]
    rows.append((200, rows[0][1].replace("tok0", "tokX")))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {
        r.doc_id: (r.simhash, r.simhash_hi)
        for r in simhash(docs, bits=72).collect()
    }
    assert all(0 <= lo < (1 << 36) and 0 <= hi < (1 << 36)
               for lo, hi in fp.values())
    brute = {
        (a, b): bin(fp[a][0] ^ fp[b][0]).count("1")
        + bin(fp[a][1] ^ fp[b][1]).count("1")
        for a in fp
        for b in fp
        if a < b
    }
    # pigeonhole completeness holds for hamming < bands: at max_hamming
    # = bands - 1 = 3 the banded result must EQUAL brute force
    want = {k: h for k, h in brute.items() if h <= 3}
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, bits=72, bands=4, max_hamming=3).collect()
    }
    assert want and got == want
    # beyond the guarantee the banding is a recall tail: every reported
    # pair must still carry the exact two-word hamming
    tail = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, bits=72, bands=4, max_hamming=8).collect()
    }
    assert all(brute[k] == h for k, h in tail.items())
    assert set(tail) <= {k for k, h in brute.items() if h <= 8}
