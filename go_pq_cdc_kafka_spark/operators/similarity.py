"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the query set,
  score corpus partitions in place (no shuffle until the final per-query
  top-k window). The dot product accumulates in DECIMAL so Spark and the
  DuckDB oracle agree bit-for-bit (float fold order differs otherwise —
  measured ~1e-9 divergence with list_dot_product).
- :func:`rademacher_lsh_buckets` / :func:`lsh_cosine_topk` — the scale path:
  sign-LSH with deterministic ±1 hyperplanes derived from md5, so bucketing
  is reproducible in SQL too. Search cost drops from |Q|×|C| to per-bucket;
  recall is tunable with ``planes`` (fewer planes → bigger buckets).
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.storagelevel import StorageLevel

from go_pq_cdc_kafka_spark.operators import scale

# ---------------------------------------------------------------------------
# exact (decimal-deterministic) vector algebra
# ---------------------------------------------------------------------------

_DEC = "decimal(38,18)"


def exact_dot(a: Column, b: Column) -> Column:
    """Order-independent dot product: per-element double multiply (IEEE,
    engine-identical), DECIMAL accumulate (exact), double out."""
    prods = F.zip_with(
        a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC)
    )
    # Spark widens DECIMAL(38,18)+DECIMAL(38,18) to DECIMAL(38,17); cast the
    # merge result back so aggregate()'s accumulator type stays fixed.
    return F.aggregate(
        prods, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC)
    ).cast("double")


def exact_dot_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"t -> CAST(t[1]::DOUBLE * t[2]::DOUBLE AS DECIMAL(38,18)))) AS DOUBLE)"
    )


def norm(a: Column) -> Column:
    return F.sqrt(exact_dot(a, a))


def norm_sql(a: str) -> str:
    return f"sqrt({exact_dot_sql(a, a)})"


def cosine(a: Column, b: Column) -> Column:
    # Dots are decimal-exact, but sqrt/divide reintroduce ~1-ulp engine
    # divergence; round to 12 decimals BEFORE ranking so top-k order is
    # engine-identical.
    return F.round(exact_dot(a, b) / (norm(a) * norm(b)), 12)


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with precomputed norms: the pair-scoring hot path does ONE
    decimal dot instead of three (norms are computed once per vector, not
    once per pair). IEEE op order matches :func:`cosine` exactly."""
    return F.round(exact_dot(a, b) / (na * nb), 12)


# -- fast (double-accumulated) variants --------------------------------------
#
# The decimal accumulator exists for CROSS-ENGINE bit-exactness (DuckDB
# oracle parity), at ~5x the cost of double arithmetic (BigDecimal per
# element). Operators whose oracles are invariant-based rather than
# value-based — the k-means-trained tier, whose cluster contents are
# engine-specific anyway — use these double-accumulated twins: identical
# shape, deterministic within Spark, no BigDecimal in the lambda.


def fast_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def fast_norm(a: Column) -> Column:
    return F.sqrt(fast_dot(a, a))


def fast_cosine_from_norms(
    a: Column, b: Column, na: Column, nb: Column
) -> Column:
    return F.round(fast_dot(a, b) / (na * nb), 12)


def cosine_from_norms_sql(a: str, b: str, na: str, nb: str) -> str:
    return f"ROUND({exact_dot_sql(a, b)} / ({na} * {nb}), 12)"


# ---------------------------------------------------------------------------
# brute-force exact top-k
# ---------------------------------------------------------------------------

def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. The query side is
    broadcast (queries ≪ corpus in every retrieval workload), scoring is a
    map-only pass over corpus partitions; the only shuffle is the final
    per-query top-k window on |Q|×|C| scored rows filtered to k."""
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_vec).alias("_qv"),
        norm(F.col(q_vec)).alias("_qn"),
    )
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_vec).alias("_cv"),
        norm(F.col(c_vec)).alias("_cn"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cosine_from_norms(
            F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cos_sim")
    )


def cosine_topk_sql(
    k: int = 5, query_pred: str = "vec_id < 5", table: str = "embeddings"
) -> str:
    cos = cosine_from_norms_sql("q.embedding", "c.embedding", "q.nrm", "c.nrm")
    nrm = norm_sql("embedding")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding, {nrm} AS nrm
           FROM {table} WHERE {query_pred}),
c AS (SELECT vec_id AS neighbor_id, embedding, {nrm} AS nrm FROM {table}),
scored AS (
  SELECT q.query_id, c.neighbor_id, {cos} AS cos_sim
  FROM c, q
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, rk, neighbor_id, cos_sim
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


# ---------------------------------------------------------------------------
# sign-LSH (Rademacher hyperplanes) — the ANN scale path
# ---------------------------------------------------------------------------

def _plane_signs(plane: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane: sign d of plane p = parity of the first
    md5 nibble of "p:d" — reproducible in any engine with md5."""
    return [
        1 if int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
        for d in range(dim)
    ]


def _plane_dot_expr(vec_name: str, signs: list[int]) -> str:
    """Spark-SQL string twin of ``exact_dot(vec, ±1-plane)`` — identical
    ops (double multiply, DECIMAL(38,18) accumulate, double out), built as
    ONE expression string. The Column-algebra form cost ~70 py4j round
    trips per plane; a 16-plane × 64-dim projection built that way spent
    3.3 s of pure DataFrame CONSTRUCTION per query (round-12 measurement —
    inside the timed region for every caller)."""
    plane = ", ".join(f"{float(s)}D" for s in signs)
    return (
        f"CAST(aggregate(zip_with({vec_name}, array({plane}), "
        "(x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(38,18))), "
        "CAST(0 AS DECIMAL(38,18)), "
        "(acc, x) -> CAST(acc + x AS DECIMAL(38,18))) AS DOUBLE)"
    )


def rademacher_lsh_buckets(
    df: DataFrame, vec_col: str, dim: int, planes: int = 8
) -> Column:
    """Bucket id = packed sign bits of ``planes`` deterministic hyperplane
    projections (cosine-LSH). Exact decimal dots ⇒ sign decisions are
    engine-identical even at near-zero projections. Integer CASE/add/
    multiply arithmetic — bit-exact to the previous Column-algebra form."""
    terms = ["CAST(0 AS BIGINT)"]
    for p in range(planes):
        dot = _plane_dot_expr(vec_col, _plane_signs(p, dim))
        terms.append(
            f"CAST(CASE WHEN {dot} > 0 THEN 1 ELSE 0 END AS BIGINT) "
            f"* CAST({1 << p} AS BIGINT)"
        )
    return F.expr(" + ".join(terms))


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 4,
    q_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """ANN top-k: only corpus vectors in the query's LSH bucket are scored.
    The bucket equi-join replaces the cross product — this is the plan shape
    that survives a 100× corpus: hash-partition by bucket, score locally."""
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(vec).alias("_qv"),
        norm(F.col(vec)).alias("_qn"),
        rademacher_lsh_buckets(queries, vec, dim, planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(q_id).alias("neighbor_id"),
        F.col(vec).alias("_cv"),
        norm(F.col(vec)).alias("_cn"),
        rademacher_lsh_buckets(corpus, vec, dim, planes).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        "neighbor_id",
        cosine_from_norms(
            F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cos_sim")
    )


def cosine_dedup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.4,
    planes: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
    *,
    rows: int,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (the fifth dedup flavor): self-join
    restricted to LSH buckets instead of all |N|² pairs; each candidate pair
    is scored exactly and kept when cosine ≥ threshold. Few planes ⇒ high
    recall (a near-dup pair lands in the same bucket with prob ≥
    (1 - θ/π)^planes); at 100 TB the bucket key is the shuffle key.

    Pair scoring uses FIXED-POINT integer arithmetic, not floats: elements
    quantize once to micro-units (``round(x * 1e6)`` as BIGINT — identical
    in both engines) and the dot is a 64-element ``zip_with`` +
    ``aggregate`` LONG fold per candidate pair, so the cosine is that of
    the quantized vectors (error ~1e-6 — far below any dedup threshold)
    but EXACT and engine-identical at every step. The quantized-array
    table is persisted and eagerly built (a hard barrier): Catalyst
    collapses projection-level vector math PAST joins and re-evaluates it
    per candidate pair — measured 6x the whole query when norms collapsed
    that way — and ReusedExchange matching is plan-shape luck, not a
    contract. Norms ride the SAME two pair joins instead of a norms
    broadcast: a norms table is corpus-scaled (O(N) rows), so broadcasting
    it is exactly the mis-broadcast the hint policy bans at scale.
    ``rows`` is the corpus row count; its regime (operators/scale.py)
    picks the self-join hint.

    Shape history, each step bought by a scale measurement:

    - round 6: exploded-dims (posexplode to (id, dim, q) rows,
      candidate×64 equi-join, giant hash aggregate) — ~cand×64 = 300M
      rows through a shuffle+aggregate at sf10, the sweep's heaviest
      stage. Replaced by per-pair folds over stored arrays.
    - rounds 8-10: id-keyed scoring — generate (vec_a, vec_b) id pairs
      bucket-locally, then TWO doc-id joins re-attach the quantized
      arrays. The round-11 sf100 stage profile attributed the 925 s
      wall: the second scoring join sorts the full candidate spine
      (128.6M pairs × ~550 B of array payload ≈ 70 GB) — candidates are
      CHEAP (48 s including the bucket self-join), carrying arrays per
      candidate is not.
    - round 11 (this shape): BUCKET-LOCAL scoring — arrays and norms ride
      the bucketed table itself (one persist), one self-join on the
      bucket key scores pairs in the join projection. Array bytes cross
      the wire once per VECTOR (2M × 530 B ≈ 1 GB), never per candidate;
      the pair spine exists only inside the join's fused
      project+filter. Measured 619.5 → 393.9 s at sf100 back-to-back,
      result-identical at sf0.1/sf1 (exceptAll both ways = 0).

    Skew note: the hottest sf100 bucket holds 1002 vectors → ~500k pairs,
    ~0.4% of the 128.6M total — AQE's skew-split has nothing to do, and a
    single key group never dominates a task. Overflow headroom:
    |x| <= ~400 keeps the 64-dim long sum under 2^63 (unit-normalized
    embeddings are O(1))."""
    qarr = F.transform(
        F.col(vec), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )

    # Buckets from INTEGER plane dots over the quantized array (round 11):
    # sign(Σ ±q_d) in pure long arithmetic — engine-identical by integer
    # exactness, like the pair dot itself. The previous DECIMAL-dot
    # buckets (rademacher_lsh_buckets on the raw floats) were the single
    # heaviest stage of the rewritten query at sf100: 15 planes × 2M
    # vectors of BigDecimal accumulation ≈ 80 s per build. The SQL twin
    # (cosine_dedup_pairs_sql) computes the same integer projection, so
    # oracle parity is preserved bit-for-bit; sign flips vs the float
    # formulation are possible only within 1e-6 quantization of a zero
    # projection, and both engines flip together.
    #
    # Round 12: the per-VECTOR folds (plane dots, norm) are built as
    # expression STRINGS of the same zip_with/aggregate ops — identical
    # semantics, ~70 py4j construction round trips per plane saved (the
    # sim_rp_topk lesson). A fully UNROLLED `qx[0]-qx[1]+…` form was
    # measured SLOWER here (2.3 → 6.2 s at sf0.1): 16 planes × 64
    # GetArrayItem terms in one projection blow the codegen method
    # budget and the whole stage falls back to interpreted eval — worse
    # than the HOF fold. The per-PAIR dot below IS unrolled (64 terms
    # only, and it runs per candidate, not per vector).
    def _plane_sum(arr: str, signs: list[int]) -> str:
        plane = ", ".join(f"CAST({s} AS BIGINT)" for s in signs)
        return (
            f"aggregate(zip_with({arr}, array({plane}), (x, s) -> x * s), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )

    bucket_expr = " + ".join(
        f"(CASE WHEN {_plane_sum('_qx', _plane_signs(p, dim))} > 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for p in range(planes)
    )
    qvb = df.select(F.col(id_col).alias("_id"), qarr.alias("_qx")).select(
        "_id",
        "_qx",
        F.expr(bucket_expr).alias("bucket"),
        F.expr(
            "SQRT(CAST(aggregate(_qx, CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x * x) AS DOUBLE))"
        ).alias("_n"),
    )
    qvb = qvb.persist(StorageLevel.MEMORY_AND_DISK)
    # materialize NOW: a merge self-join submits its two sort stages
    # concurrently, and against a lazily-persisted cache BOTH stages
    # compute the quantize+bucket+norm projection before any block is
    # stored (measured as twin ~80 s stages in the round-11 sf100 event
    # log). One eager pass builds the cache once; the count is a bounded
    # scalar action of the same class the callers already use for corpus
    # sizing.
    qvb.count()
    # both sides derive from qvb: RENAME the bucket per side — an
    # un-renamed self-join condition resolves to one attribute and folds
    # to literal true (accidental all-pairs; caught by the round-11
    # profiler's first run)
    aa = qvb.select(
        F.col("_id").alias("vec_a"), F.col("_qx").alias("_xa"),
        F.col("_n").alias("_na"), F.col("bucket").alias("bucket_a"),
    )
    bb = qvb.select(
        F.col("_id").alias("vec_b"), F.col("_qx").alias("_xb"),
        F.col("_n").alias("_nb"), F.col("bucket").alias("bucket_b"),
    )
    # the regime's pair_join picks the self-join strategy: shuffle_hash
    # up to LARGE (skips SMJ's sorts; the per-partition build slice is
    # corpus/N_part — MBs), merge in LARGE (spills gracefully; see
    # operators/scale.py).
    return (
        aa.join(
            bb.hint(scale.regime(rows).pair_join),
            (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            "vec_a",
            "vec_b",
            # the zip_with/aggregate fold STAYS for the per-pair dot: a
            # fully unrolled `_xa[0]*_xb[0] + …` 64-term codegen chain
            # was prototyped round 12 and measured 3× SLOWER (1.9 vs
            # 5.6 s on a 125k-pair A/B; 64 GetArrayItem+Add nodes beat
            # the vectorized HOF loop nowhere) — the HOF fold is the
            # fast path, not just the convenient one
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
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_dedup_pairs_sql(
    dim: int, threshold: float = 0.4, planes: int = 2, table: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`cosine_dedup_pairs`: same md5 hyperplane
    buckets, same micro-unit fixed-point dot/norm (integer-exact in both
    engines), same round-12 cosine."""

    def bucket_sql(qv: str) -> str:
        # integer plane dots over the quantized list — the exact twin of
        # the Spark side's int_bucket (sign decisions are long-arithmetic
        # identical in both engines)
        terms = []
        for p in range(planes):
            signs = _plane_signs(p, dim)
            plane_lit = "[" + ", ".join(str(s) for s in signs) + "]::BIGINT[]"
            proj = (
                f"list_sum(list_transform(list_zip({qv}, {plane_lit}), "
                f"t -> t[1] * t[2]))"
            )
            terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
  FROM {table}
),
bucketed AS (
  SELECT vec_id, {bucket_sql("qv")} AS bucket FROM q
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
  FROM q
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
dots AS (
  SELECT p.vec_a, p.vec_b,
         CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv),
                                      t -> t[1] * t[2])) AS BIGINT) AS dot
  FROM pairs p
  JOIN q qa ON qa.vec_id = p.vec_a
  JOIN q qb ON qb.vec_id = p.vec_b
)
SELECT d.vec_a, d.vec_b,
       ROUND(CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm), 12) AS cos_sim
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE ROUND(CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm), 12) >= {threshold}
ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantize, probe one cluster
# ---------------------------------------------------------------------------

def _argmax_local(
    rows: DataFrame,
    cents: DataFrame,
    cos_fn,
    key: str | None = None,
    vec_col: str = "_av",
    norm_col: str = "_an",
) -> DataFrame:
    """Nearest-centroid pick with ZERO exchange (round 13): collapse the
    (node-bounded) centroid table ``cents`` — (centroid_id, centroid_vec,
    _centn), plus ``key`` when per-key routing applies — to ONE
    array-of-structs row per ``key`` (one global row when ``key`` is
    None), broadcast it, and compute each input row's argmax with
    ``array_max(transform(...))``.

    Struct ordering (``_ccos`` desc via max, then LOWEST centroid id via
    the negated field) is the same TypedOrdering that both the round-12
    ``max(struct(...))`` aggregate and the original ``row_number`` window
    used — NaN greatest, NULL smallest, -0.0 == 0.0 — so the selection is
    row-identical (pinned by test_ivf_assign_argmax_matches_window_form).
    Centroid ids are unique, so (_ccos, _neg) is a total order per array
    and ``collect_list``'s nondeterministic order cannot change the pick.

    Why this beats the aggregate form it replaces: the aggregate still
    exchanged N pre-reduced rows — each carrying the vector payload —
    to group by vector id. Here no scored relation ever exists row-wise:
    the k candidate scores live inside one array expression evaluated
    map-side, so assignment costs zero shuffles and Lloyd training's only
    per-round exchange is the tiny (cluster, pos) means panel (guide
    §2.3/§2.4). Input partitioning (the caller's corpus spread) flows
    through untouched.

    Bound: the whole table (per key) rides ONE row — k centroids × dim
    doubles, 8 bytes each, collected to the driver and broadcast. Spark
    caps a row near 2 GB and a broadcast at 8 GB, but every task also
    deserializes the row, so in practice keep k·dim within ~10M values
    (~80 MB per key); past that, train coarser or route per key.

    An empty centroid table yields 0 rows, as the aggregate and window
    forms did: the global ``groupBy()`` still emits one row with an empty
    array, which the ``size > 0`` filter drops (a filter on the collected
    row, not an extra job) instead of assigning every input row a NULL
    cluster.

    Output: ``rows`` + ``_best`` struct; callers project
    ``_best._pick`` (the chosen centroid_id)."""
    gb = cents.groupBy(key) if key else cents.groupBy()
    arr = gb.agg(
        F.collect_list(
            F.struct(
                F.col("centroid_id").alias("cid"),
                F.col("centroid_vec").alias("cv"),
                F.col("_centn").alias("cn"),
            )
        ).alias("_carr")
    ).filter(F.size("_carr") > 0)
    joined = rows.join(F.broadcast(arr), key) if key else rows.join(F.broadcast(arr))
    best = F.array_max(
        F.transform(
            F.col("_carr"),
            lambda c: F.struct(
                cos_fn(F.col(vec_col), c["cv"], F.col(norm_col), c["cn"]).alias(
                    "_ccos"
                ),
                (-c["cid"]).alias("_neg"),
                c["cid"].alias("_pick"),
            ),
        )
    )
    return joined.withColumn("_best", best).drop("_carr")


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec: str,
    out_id: str,
    nprobe: int = 1,
    exact: bool = True,
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (small) centroid table,
    score every (vector, centroid) pair, keep the ``nprobe`` best-cosine
    centroids (1 for indexing; >1 on the query side widens the probe).
    One map-side broadcast join + one shuffle on the vector id.

    ``exact=True`` scores with the decimal-accumulated dot (bit-exact
    against the SQL oracle — required for the seeded, SQL-expressible IVF
    configuration). ``exact=False`` uses the double-accumulated twin —
    the right choice for trained centroids, whose contents are
    engine-specific and invariant-checked anyway (~5x faster).

    ``nprobe=1`` (every corpus-scaled call site: index builds, Lloyd
    rounds, SemDeDup assignment) computes the argmax MAP-LOCALLY
    (:func:`_argmax_local`): the centroid table collapses to one
    broadcast array row and each vector picks its centroid inside one
    ``array_max(transform(...))`` expression — no scored relation, no
    exchange at all (round 13; the round-12 aggregate form still
    exchanged N payload-carrying rows to group by vector id). Verified
    row-identical against the window form for both scorers (round 12 for
    the aggregate, round 13 for the map-local form — exceptAll 0/0, and
    Lloyd centroids bit-identical). ``nprobe>1`` (query-side probe
    widening, bounded |Q|×k input) keeps the window."""
    _norm = norm if exact else fast_norm
    _cos = cosine_from_norms if exact else fast_cosine_from_norms
    cents = centroids.select(
        F.col("centroid_id"),
        F.col("centroid_vec"),
        _norm(F.col("centroid_vec")).alias("_centn"),
    )
    rows = df.select(
        F.col(id_col).alias("_aid"),
        F.col(vec).alias("_av"),
        _norm(F.col(vec)).alias("_an"),
    )
    if nprobe == 1:
        return _argmax_local(rows, cents, _cos).select(
            F.col("_aid").alias(out_id),
            F.col("_av").alias(vec),
            F.col("_an").alias("_vnorm"),
            F.col("_best._pick").alias("cluster"),
        )
    scored = rows.join(F.broadcast(cents)).select(
        "_aid",
        "_av",
        "_an",
        "centroid_id",
        _cos(
            F.col("_av"), F.col("centroid_vec"), F.col("_an"), F.col("_centn")
        ).alias("_ccos"),
    )
    w = Window.partitionBy("_aid").orderBy(
        F.col("_ccos").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(
            F.col("_aid").alias(out_id),
            F.col("_av").alias(vec),
            F.col("_an").alias("_vnorm"),
            F.col("centroid_id").alias("cluster"),
        )
    )


def hierarchical_assign(
    df: DataFrame,
    centroids: DataFrame,
    coarse_n: int,
    id_col: str,
    vec: str,
    out_id: str,
) -> DataFrame:
    """IVF-style TWO-LEVEL nearest-centroid assignment: route each vector
    through ``coarse_n`` coarse centroids (the first ``coarse_n`` fine
    centroids by id), then score only the fine centroids whose own
    nearest coarse matches — N x (coarse_n + k/coarse_n) scored
    candidates instead of the flat N x k, which is what makes k in the
    thousands affordable (the round-6 sf10 step timed the flat
    assignment out at N=500k, k=707). Assignment is approximate exactly
    the way IVF nprobe=1 search is: the true argmax fine centroid can
    sit in a different coarse cell. Output shape matches
    :func:`ivf_assign` (out_id, vec, _vnorm, cluster)."""
    cents = centroids.select(
        "centroid_id",
        "centroid_vec",
        fast_norm(F.col("centroid_vec")).alias("_cn"),
    )
    coarse = (
        cents.orderBy("centroid_id")
        .limit(coarse_n)
        .select(
            F.col("centroid_id").alias("coarse_id"),
            F.col("centroid_vec").alias("_cov"),
            F.col("_cn").alias("_con"),
        )
    )
    # all three argmax stages are MAP-LOCAL array argmaxes (round 13,
    # same rationale as ivf_assign nprobe=1): the routed and final stages
    # are corpus-scaled — the round-12 aggregate form still exchanged N
    # payload-carrying rows per stage to group by vector id; the
    # broadcast-array form exchanges nothing (the routing arrays are
    # coarse_n- and k-bounded, exactly the tables the old form already
    # broadcast row-wise)
    coarse_cents = coarse.select(
        F.col("coarse_id").alias("centroid_id"),
        F.col("_cov").alias("centroid_vec"),
        F.col("_con").alias("_centn"),
    )
    fine_map = _argmax_local(
        cents,
        coarse_cents,
        fast_cosine_from_norms,
        vec_col="centroid_vec",
        norm_col="_cn",
    ).select(
        F.col("_best._pick").alias("coarse_id"), "centroid_id", "centroid_vec", "_cn"
    )
    routed = _argmax_local(
        df.select(
            F.col(id_col).alias("_aid"),
            F.col(vec).alias("_av"),
            fast_norm(F.col(vec)).alias("_an"),
        ),
        coarse_cents,
        fast_cosine_from_norms,
    ).select("_aid", "_av", "_an", F.col("_best._pick").alias("coarse_id"))
    return _argmax_local(
        routed,
        fine_map.select(
            "coarse_id",
            "centroid_id",
            "centroid_vec",
            F.col("_cn").alias("_centn"),
        ),
        fast_cosine_from_norms,
        key="coarse_id",
    ).select(
        F.col("_aid").alias(out_id),
        F.col("_av").alias(vec),
        F.col("_an").alias("_vnorm"),
        F.col("_best._pick").alias("cluster"),
    )


def train_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Deterministic spherical k-means (Lloyd) for the IVF coarse quantizer.

    Seeded from the first ``n_centroids`` vectors by id (reproducible, no
    RNG), then ``iters`` rounds of: broadcast the centroid table, assign
    every vector to its argmax-cosine centroid, recompute each centroid as
    the elementwise mean of its members. Per round the corpus is touched
    once and the ONLY exchange is the tiny (cluster, position) means
    panel — ``K·dim`` groups, partial-aggregated map-side: assignment is
    the zero-exchange map-local array argmax (round 13,
    :func:`_argmax_local`; the round-12 aggregate form still shuffled the
    N-row assignment output, each row carrying the vector payload, before
    the means could reduce it). The centroid table never
    leaves the executors. Rounds chain LAZILY — round k's broadcast
    subtree nests round k-1's means aggregate, so the whole training runs
    as ONE job ended by an eager K×dim localCheckpoint (round 12: the
    previous per-round collect + createDataFrame paid a driver round-trip
    and a py4j re-upload per round — warm 3.1 → 2.2 s at sf0.1,
    centroid values identical; round 13: centroids BIT-identical under
    the map-local assignment, max |Δ| = 0.0 at sf0.1 k=44). Trained
    centroids fix the
    hot-cluster skew of raw first-N seeding: cluster populations track the
    data distribution, so inverted lists stay balanced at scale."""
    cents = corpus.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).cast("long").alias("centroid_id"),
        F.col(vec).alias("centroid_vec"),
    )
    for _ in range(iters):
        # trained clusters are engine-specific (invariant-checked), so
        # Lloyd assignment uses the fast double scorer
        assigned = ivf_assign(corpus, cents, id_col, vec, "_m_id", exact=False)
        # NOTE (round 12): a single groupBy(cluster) with `dim` positional
        # sum aggregates was prototyped to drop one exchange per round and
        # measured SLOWER (+1.5 s over 3 rounds at sf0.1): each round
        # whole-stage-codegens a fresh 64-buffer aggregate method, and the
        # compilation costs more than the exchange it saves. Kept the
        # posexplode form; the real lever was spreading the corpus scan
        # at the call sites.
        means = (
            assigned.select("cluster", F.posexplode(F.col(vec)).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid_vec")
            )
            .select(F.col("cluster").cast("long").alias("centroid_id"), "centroid_vec")
        )
        cents = means
    # one eager materialization for the whole training chain: K×dim rows,
    # lineage truncated so the (multiple) downstream consumers re-read
    # cached blocks instead of re-running `iters` nested rounds
    return cents.localCheckpoint(eager=True)


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec: str = "embedding",
    materialize: bool = True,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over embeddings — k-means-cluster the space, score cosine
    only WITHIN each cluster, and among near-duplicates (cos >= threshold)
    keep the member with the LOWEST cosine to its centroid (the paper's
    best-performing keep rule: the most diverse representative survives).

    Drop rule, pairwise and iteration-free: ``b`` is dropped when some
    same-cluster ``a`` has ``cos(a,b) >= threshold`` and ``a`` is
    keep-preferred (lower centroid-cosine; ties broken by lower id). One
    broadcast assignment + one within-cluster self-join + one distinct —
    no driver loops.

    Returns ``(vec_id, cluster, cent_cos, kept)`` for every corpus vector.

    Scale notes (100 TB posture): the within-cluster self-join is
    SemDeDup's own complexity bound — pair work is Σ cluster², controlled
    by k (the paper runs k=11k on LAION); the shuffle key is the cluster
    id, so a balanced trained quantizer (train_centroids) is what keeps
    partitions even. Centroid assignment broadcasts the K×dim table and
    touches the corpus once."""
    # trained clusters are engine-specific (the query's oracle checks
    # invariants, not values) — score with the fast double twins.
    # ``assigned`` lets large corpora swap in hierarchical_assign (flat
    # N x k assignment is the scale bottleneck past k in the hundreds)
    if assigned is None:
        assigned = ivf_assign(
            corpus, centroids, id_col, vec, id_col, exact=False
        )
    cents = centroids.select(
        "centroid_id",
        "centroid_vec",
        fast_norm(F.col("centroid_vec")).alias("_cn"),
    )
    members = (
        assigned.join(
            F.broadcast(cents),
            assigned["cluster"] == cents["centroid_id"],
        )
        .select(
            F.col(id_col),
            F.col(vec),
            F.col("_vnorm"),
            F.col("cluster"),
            fast_cosine_from_norms(
                F.col(vec),
                F.col("centroid_vec"),
                F.col("_vnorm"),
                F.col("_cn"),
            ).alias("cent_cos"),
        )
        .persist()
    )
    a = members.select(
        F.col("cluster"),
        F.col(id_col).alias("_ida"),
        F.col(vec).alias("_va"),
        F.col("_vnorm").alias("_na"),
        F.col("cent_cos").alias("_cca"),
    )
    b = members.select(
        F.col("cluster"),
        F.col(id_col).alias("_idb"),
        F.col(vec).alias("_vb"),
        F.col("_vnorm").alias("_nb"),
        F.col("cent_cos").alias("_ccb"),
    )
    keep_preferred = (F.col("_cca") < F.col("_ccb")) | (
        (F.col("_cca") == F.col("_ccb")) & (F.col("_ida") < F.col("_idb"))
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(keep_preferred)
        .filter(
            fast_cosine_from_norms(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            )
            >= F.lit(threshold)
        )
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    out = members.join(
        dropped.withColumn("_dropped", F.lit(True)), id_col, "left"
    ).select(
        F.col(id_col),
        F.col("cluster"),
        F.col("cent_cos"),
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
    )
    if not materialize:
        # lazy plan for inspection/composition — caller owns the members
        # cache lifecycle (it is reachable through out's lineage)
        return out
    # materialize while the members cache is hot, then release it — the
    # checkpointed result owns its own (result-sized) storage tied to the
    # returned DataFrame's lifetime, so repeated invocations don't leak a
    # cached members frame per call (mirrors cluster.bfs_min_hops's
    # edges.unpersist discipline)
    out = out.localCheckpoint(eager=True)
    members.unpersist()
    return out


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 8,
    q_id: str = "vec_id",
    vec: str = "embedding",
    nprobe: int = 1,
    train_iters: int = 0,
) -> DataFrame:
    """IVF ANN top-k: every corpus vector is inverted-file-indexed under its
    nearest centroid; a query scores only its ``nprobe`` nearest clusters'
    lists. Cluster id is the join/shuffle key — at scale the corpus is
    hash-partitioned by cluster and each probe touches one partition's worth
    of vectors.

    ``train_iters=0`` uses the first ``n_centroids`` corpus vectors by id as
    centroids (deterministic, SQL-expressible — the oracle-parity
    configuration). ``train_iters>0`` runs that seed through Lloyd rounds
    (:func:`train_centroids`), which balances inverted lists and lifts
    recall; raise ``nprobe`` to trade probe cost for recall (each extra
    probe scores one more cluster's list)."""
    # the seeded (train_iters=0) configuration is the SQL-oracle-parity
    # one and scores with exact decimal dots; the trained tier's clusters
    # are engine-specific and invariant-checked, so it takes the ~5x
    # faster double scorer
    exact = train_iters == 0
    if train_iters > 0:
        centroids = train_centroids(corpus, n_centroids, train_iters, q_id, vec)
    else:
        centroids = corpus.orderBy(q_id).limit(n_centroids).select(
            F.col(q_id).alias("centroid_id"), F.col(vec).alias("centroid_vec")
        )
    c_assigned = ivf_assign(corpus, centroids, q_id, vec, "neighbor_id", exact=exact)
    q_assigned = ivf_assign(
        queries, centroids, q_id, vec, "query_id", nprobe=nprobe, exact=exact
    ).select(
        "query_id", F.col(vec).alias("_qv"), F.col("_vnorm").alias("_qn"), "cluster"
    )
    _cos = cosine_from_norms if exact else fast_cosine_from_norms
    scored = c_assigned.join(F.broadcast(q_assigned), "cluster").select(
        "query_id",
        "neighbor_id",
        _cos(
            F.col("_qv"), F.col(vec), F.col("_qn"), F.col("_vnorm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cos_sim")
    )


def ivf_topk_sql(
    dim: int,
    k: int = 5,
    n_centroids: int = 8,
    query_pred: str = "vec_id < 5",
    table: str = "embeddings",
) -> str:
    assign_cos = cosine_from_norms_sql(
        "v.embedding", "c.centroid_vec", "v.nrm", "c.centn"
    )
    score_cos = cosine_from_norms_sql("q.embedding", "n.embedding", "q.nrm", "n.nrm")
    nrm = norm_sql("embedding")
    return f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding AS centroid_vec, {nrm} AS centn
  FROM {table} ORDER BY vec_id LIMIT {n_centroids}
),
c_assign AS (
  SELECT _aid AS neighbor_id, embedding, nrm, cluster FROM (
    SELECT v.vec_id AS _aid, v.embedding, v.nrm, c.centroid_id AS cluster,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {assign_cos} DESC, c.centroid_id) AS rn
    FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM {table}) v, centroids c
  ) WHERE rn = 1
),
q_assign AS (
  SELECT _aid AS query_id, embedding, nrm, cluster FROM (
    SELECT v.vec_id AS _aid, v.embedding, v.nrm, c.centroid_id AS cluster,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {assign_cos} DESC, c.centroid_id) AS rn
    FROM (SELECT vec_id, embedding, {nrm} AS nrm
          FROM {table} WHERE {query_pred}) v, centroids c
  ) WHERE rn = 1
),
ranked AS (
  SELECT q.query_id, n.neighbor_id, {score_cos} AS cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q.query_id
                                 ORDER BY {score_cos} DESC, n.neighbor_id) AS BIGINT) AS rk
  FROM q_assign q JOIN c_assign n ON q.cluster = n.cluster
)
SELECT query_id, rk, neighbor_id, cos_sim
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


def lsh_cosine_topk_sql(
    dim: int, k: int = 5, planes: int = 4, query_pred: str = "vec_id < 5",
    table: str = "embeddings",
) -> str:
    def bucket_sql(v: str) -> str:
        terms = []
        for p in range(planes):
            signs = _plane_signs(p, dim)
            plane_lit = "[" + ", ".join(f"{float(s)}" for s in signs) + "]::DOUBLE[]"
            dot = exact_dot_sql(v, plane_lit)
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    cos = cosine_from_norms_sql("q.embedding", "c.embedding", "q.nrm", "c.nrm")
    nrm = norm_sql("embedding")
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding, {nrm} AS nrm,
         {bucket_sql("embedding")} AS bucket
  FROM {table} WHERE {query_pred}
),
c AS (
  SELECT vec_id AS neighbor_id, embedding, {nrm} AS nrm,
         {bucket_sql("embedding")} AS bucket
  FROM {table}
),
scored AS (
  SELECT q.query_id, c.neighbor_id, {cos} AS cos_sim
  FROM c JOIN q ON c.bucket = q.bucket
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, rk, neighbor_id, cos_sim
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


# ---------------------------------------------------------------------------
# random projection (Johnson–Lindenstrauss) — the dimensionality scale path
# ---------------------------------------------------------------------------
#
# Complements the other ANN tiers: LSH buckets (prune candidates), IVF
# (partition the corpus), int8/PQ (compress the bytes). Random projection
# shrinks the DIMENSION: a ±1 Rademacher matrix (Achlioptas 2001 — database-
# friendly JL) maps dim-D vectors to dim-P sketches whose pairwise angles
# concentrate around the originals, so candidate generation scores P-dim
# sketches (P/D of the flops and scanned bytes) and only the top-m survivors
# per query pay a full-dimension exact re-rank. Projection planes derive from
# md5 (namespace "rp") so Spark and the SQL oracle build the identical matrix.


def _rp_signs(proj: int, dim: int) -> list[int]:
    """Deterministic ±1 Rademacher row ``proj`` of the projection matrix:
    sign d = parity of the first md5 nibble of "rp<p>:<d>" (distinct
    namespace from the LSH planes so the two families never correlate)."""
    return [
        1
        if int(hashlib.md5(f"rp{proj}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1
        for d in range(dim)
    ]


def random_projection(vec_name: str, dim: int, out_dim: int) -> Column:
    """Project to ``out_dim`` coordinates, each an exact-decimal dot with a
    deterministic ±1 row — engine-identical, so downstream ranking on the
    sketches matches the SQL oracle exactly. Takes the COLUMN NAME and
    builds one expression string (see :func:`_plane_dot_expr` for why)."""
    coords = ", ".join(
        _plane_dot_expr(vec_name, _rp_signs(p, dim)) for p in range(out_dim)
    )
    return F.expr(f"array({coords})")


def random_projection_sql(v: str, dim: int, out_dim: int) -> str:
    coords = ", ".join(
        exact_dot_sql(
            v,
            "["
            + ", ".join(f"{float(s)}" for s in _rp_signs(p, dim))
            + "]::DOUBLE[]",
        )
        for p in range(out_dim)
    )
    return f"[{coords}]"


def rp_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    out_dim: int = 16,
    k: int = 5,
    rerank: int = 3,
    q_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: (1) score ``out_dim``-dim sketches for every
    (query, corpus) pair — map-only over corpus partitions with the query
    sketches broadcast, paying out_dim/dim of the brute-force flops and, in
    a production layout where sketches are materialized as their own column
    (or table), out_dim/dim of the scanned bytes; (2) exact full-dimension
    re-rank of only the top ``rerank*k`` sketch candidates per query.

    Stage-2 cost is |Q|·rerank·k full dots — independent of corpus size.
    The candidate top-m and final top-k windows both run on LSH-style
    pre-filtered row counts (≤ |Q|·m rows after stage 1), never on the
    corpus. Recall is tunable via ``out_dim`` (JL: angle distortion shrinks
    as 1/√out_dim) and ``rerank``."""
    m = rerank * k
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(vec).alias("_qv"),
        norm(F.col(vec)).alias("_qn"),
        random_projection(vec, dim, out_dim).alias("_qp"),
    ).withColumn("_qpn", norm(F.col("_qp")))
    c = corpus.select(
        F.col(q_id).alias("neighbor_id"),
        F.col(vec).alias("_cv"),
        norm(F.col(vec)).alias("_cn"),
        random_projection(vec, dim, out_dim).alias("_cp"),
    ).withColumn("_cpn", norm(F.col("_cp")))
    sketch_scored = c.join(
        F.broadcast(q.select("query_id", "_qp", "_qpn"))
    ).select(
        "query_id",
        "neighbor_id",
        "_cv",
        "_cn",
        cosine_from_norms(
            F.col("_qp"), F.col("_cp"), F.col("_qpn"), F.col("_cpn")
        ).alias("sketch_sim"),
    )
    wm = Window.partitionBy("query_id").orderBy(
        F.col("sketch_sim").desc(), F.col("neighbor_id")
    )
    cand = sketch_scored.withColumn(
        "crk", F.row_number().over(wm)
    ).filter(F.col("crk") <= m)
    rescored = cand.join(
        F.broadcast(q.select("query_id", "_qv", "_qn")), "query_id"
    ).select(
        "query_id",
        "neighbor_id",
        "sketch_sim",
        cosine_from_norms(
            F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
        ).alias("cos_sim"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(wk).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cos_sim", "sketch_sim")
    )


def rp_cosine_topk_sql(
    dim: int,
    out_dim: int = 16,
    k: int = 5,
    rerank: int = 3,
    query_pred: str = "vec_id < 5",
    table: str = "embeddings",
) -> str:
    m = rerank * k
    nrm = norm_sql("embedding")
    proj = random_projection_sql("embedding", dim, out_dim)
    sk_cos = cosine_from_norms_sql("q.proj", "c.proj", "q.pn", "c.pn")
    cos = cosine_from_norms_sql("q.embedding", "c.embedding", "q.nrm", "c.nrm")
    return f"""
WITH qp AS (
  SELECT vec_id AS query_id, embedding, {nrm} AS nrm, {proj} AS proj
  FROM {table} WHERE {query_pred}
),
q AS (SELECT query_id, embedding, nrm, proj, {norm_sql("proj")} AS pn FROM qp),
cp AS (
  SELECT vec_id AS neighbor_id, embedding, {nrm} AS nrm, {proj} AS proj
  FROM {table}
),
c AS (SELECT neighbor_id, embedding, nrm, proj, {norm_sql("proj")} AS pn FROM cp),
sk AS (
  SELECT q.query_id, c.neighbor_id, c.embedding, c.nrm, {sk_cos} AS sketch_sim
  FROM c, q
),
cand AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sketch_sim DESC, neighbor_id) AS crk
  FROM sk
),
rescored AS (
  SELECT c.query_id, c.neighbor_id, c.sketch_sim, {cos} AS cos_sim
  FROM (SELECT query_id, neighbor_id, sketch_sim,
               embedding, nrm FROM cand WHERE crk <= {m}) c
  JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim, sketch_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
  FROM rescored
)
SELECT query_id, rk, neighbor_id, cos_sim, sketch_sim
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


# ---------------------------------------------------------------------------
# int8 scalar quantization — the memory-bandwidth scale path
# ---------------------------------------------------------------------------
#
# At 100 TB the embedding column IS the dataset: 64 float32 dims = 256 B/row,
# and brute-force scoring is memory-bandwidth-bound. Per-vector symmetric
# int8 quantization cuts the scanned bytes 4x and turns the scoring hot loop
# into integer multiply-adds. Quantized dot products are INTEGER arithmetic,
# so Spark and DuckDB agree exactly — no decimal accumulator needed.
#
# floor() (not round) maps float->int8: floor is bit-identical across
# engines, while round's tie behavior differs (HALF_UP on shortest repr vs
# half-away on exact binary expansion).

def quantize_i8(vec: Column) -> Column:
    """Symmetric per-vector int8 code: q_i = floor(x_i * 127 / max|x|)."""
    dv = F.transform(vec, lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(dv, lambda x: F.abs(x))), F.lit(1e-30)
    )
    return F.transform(
        dv, lambda x: F.floor(x * F.lit(127.0) / scale).cast("long")
    )


def quantize_i8_sql(vec: str) -> str:
    return (
        f"list_transform({vec}, x -> CAST(floor(x::DOUBLE * 127.0 / "
        f"greatest(list_max(list_transform({vec}, y -> abs(y::DOUBLE))), 1e-30)"
        f") AS BIGINT))"
    )


def quantized_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8 code vectors (|q|<=127, so a
    64-dim dot fits easily in BIGINT)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_dot_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"t -> t[1] * t[2])) AS BIGINT)"
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Top-k by int8-quantized dot product: same broadcast-queries map-only
    shape as :func:`cosine_topk`, but the corpus pass reads 4x fewer bytes
    once codes are materialized, and scoring is integer MACs (SIMD-friendly
    under whole-stage codegen). Ranking is (score desc, neighbor_id) —
    fully deterministic because scores are integers."""
    q = queries.select(
        F.col(q_id).alias("query_id"), quantize_i8(F.col(q_vec)).alias("_qc")
    )
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"), quantize_i8(F.col(c_vec)).alias("_cc")
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        quantized_dot(F.col("_qc"), F.col("_cc")).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "qdot")
    )


def quantized_topk_sql(
    k: int = 5, query_pred: str = "vec_id < 5", table: str = "embeddings"
) -> str:
    dot = quantized_dot_sql("q.code", "c.code")
    code = quantize_i8_sql("embedding")
    return f"""
WITH q AS (SELECT vec_id AS query_id, {code} AS code
           FROM {table} WHERE {query_pred}),
c AS (SELECT vec_id AS neighbor_id, {code} AS code FROM {table}),
scored AS (
  SELECT q.query_id, c.neighbor_id, {dot} AS qdot
  FROM c, q
),
ranked AS (
  SELECT query_id, neighbor_id, qdot,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, rk, neighbor_id, qdot
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


# ---------------------------------------------------------------------------
# prototype vectors (per-label centroids) + prototype-distance data pruning
# ---------------------------------------------------------------------------
#
# "Beyond neural scaling laws" (Sorscher et al. 2022): rank examples by
# distance to their class prototype (the label centroid) and prune the easy
# ones — keeping hard/atypical examples beats random pruning at scale. The
# centroid pass is the vector analogue of a groupBy mean; the pruning pass
# is a broadcast join (|labels| × dim is tiny by construction) + one
# per-label window.


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector, computed as (label, dim) scalar aggregates —
    posexplode + one groupBy — NOT per-row array folds: the shuffle moves
    (labels × dim) sum cells, map-side combined, and nothing driver-side.
    Means are decimal-sum / count double divisions (oracle-exact)."""
    cells = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).groupBy("label", "dim").agg(
        F.sum(F.col("x").cast("double").cast(_DEC)).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        cells.select(
            "label",
            "dim",
            # 12-decimal round before anything consumes the mean: the
            # DECIMAL(38,18) accumulator rounds a sub-1 double's long binary
            # expansion at digit 18, and Spark/DuckDB disagree on that last
            # digit (~1e-18); the same discipline as :func:`cosine`.
            F.round(
                F.col("s").cast("double") / F.col("n").cast("double"), 12
            ).alias("m"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("m")))
                ),
                lambda e: e["m"],
            ).alias("centroid")
        )
    )


def label_centroids_sql(
    label_col: str = "label",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    return f"""
WITH cells AS (
  SELECT {label_col} AS label, u.d AS dim,
         ROUND(CAST(SUM(CAST(u.x AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE), 12) AS m
  FROM (
    SELECT {label_col},
           unnest([{{'x': CAST({vec_col}[i] AS DOUBLE), 'd': i - 1}}
                   for i in generate_series(1, len({vec_col}))]) AS u
    FROM {table}
  )
  GROUP BY label, dim
)
SELECT label,
       list_transform(
         list_sort(list({{'dim': dim, 'm': m}})), e -> e.m
       ) AS centroid
FROM cells
GROUP BY label
ORDER BY label
"""


def prototype_pruning(
    df: DataFrame,
    keep_per_label: int,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Keep the ``keep_per_label`` HARDEST examples per label — lowest
    cosine to the label's own centroid (ties by id). One broadcast join
    against the (labels × dim) centroid table, one per-label window: the
    corpus never shuffles except for that ranking window, and the window
    keys are the labels (bounded, uniform)."""
    cents = label_centroids(df, label_col, vec_col).select(
        F.col("label"),
        F.col("centroid"),
        norm(F.col("centroid")).alias("_pn"),
    )
    scored = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(label_col).alias("label"),
            F.col(vec_col).alias("_v"),
            norm(F.col(vec_col)).alias("_vn"),
        )
        .join(F.broadcast(cents), "label")
        .select(
            "vec_id",
            "label",
            cosine_from_norms(
                F.col("_v"), F.col("centroid"), F.col("_vn"), F.col("_pn")
            ).alias("proto_sim"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("proto_sim").asc(), "vec_id")
    return (
        scored.withColumn("hardness_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("hardness_rank") <= keep_per_label)
        .select("label", "hardness_rank", "vec_id", "proto_sim")
    )


def prototype_pruning_sql(
    keep_per_label: int,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    cos = cosine_from_norms_sql("e.embedding", "c.centroid", "e.nrm", "c.pn")
    return f"""
WITH cells AS (
  SELECT {label_col} AS label, u.d AS dim,
         ROUND(CAST(SUM(CAST(u.x AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE), 12) AS m
  FROM (
    SELECT {label_col},
           unnest([{{'x': CAST({vec_col}[i] AS DOUBLE), 'd': i - 1}}
                   for i in generate_series(1, len({vec_col}))]) AS u
    FROM {table}
  )
  GROUP BY label, dim
),
cents AS (
  SELECT label,
         list_transform(list_sort(list({{'dim': dim, 'm': m}})), e -> e.m)
           AS centroid
  FROM cells GROUP BY label
),
cents_n AS (SELECT label, centroid, {norm_sql("centroid")} AS pn FROM cents),
scored AS (
  SELECT e.{id_col} AS vec_id, e.label, {cos} AS proto_sim
  FROM (SELECT {id_col}, {label_col} AS label, {vec_col} AS embedding,
               {norm_sql(vec_col)} AS nrm FROM {table}) e
  JOIN cents_n c ON e.label = c.label
)
SELECT label,
       CAST(ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY proto_sim ASC, vec_id) AS BIGINT)
         AS hardness_rank,
       vec_id, proto_sim
FROM scored
QUALIFY hardness_rank <= {keep_per_label}
ORDER BY label, hardness_rank
"""
