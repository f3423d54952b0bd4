"""Deduplication operators for large-scale corpus curation: exact,
n-gram-Jaccard, MinHash+LSH, SimHash.

Scale design notes (the 100 TB posture):

- exact/bag dedup is one hash-groupBy — a single shuffle on a short hash key
  with map-side partial aggregation; skew-free because md5 keys are uniform.
- n-gram Jaccard never compares all pairs: candidates come from an inverted
  shingle index (explode → self-equi-join on the shingle hash), so cost
  scales with shared-shingle mass, not |docs|².
- MinHash signatures are computed with P min-aggregates in ONE groupBy pass
  (not P passes); LSH banding turns near-dup search into B small equi-joins
  on band keys. Band keys are md5-uniform → no join skew.
- SimHash is two aggregations (token-bit contributions → 32-bit sign vector).

Every operator is pure Column expressions — no Python UDFs — and each has a
generated DuckDB-SQL twin (the formulas share the md5-based hash helpers in
functions.text, so oracles match bit-for-bit).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.storagelevel import StorageLevel

from go_pq_cdc_kafka_spark.functions import text as T
from go_pq_cdc_kafka_spark.operators import scale


def _pin(df: DataFrame) -> DataFrame:
    """Persist a subtree that is referenced from multiple join branches.

    Without this, whether the branch is computed once is up to ReusedExchange
    matching — plan-shape luck, not a contract. MEMORY_AND_DISK spills rather
    than OOMs at scale; Spark's LRU evicts under pressure, and a caller
    processing many corpora can drop everything with
    ``spark.catalog.clearCache()``."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)

# ---------------------------------------------------------------------------
# exact / bag dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per bag-fingerprint. Returns the survivors."""
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        df.withColumn("fp", T.bag_fingerprint(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-fingerprint group stats: keeper id + copy count (hash-groupBy)."""
    return (
        df.select(T.bag_fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).cast("long").alias("keeper"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# shingle inverted index + n-gram Jaccard
# ---------------------------------------------------------------------------

def shingle_index(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(doc, shingle) inverted index — distinct word n-grams exploded.

    Tokenizes in its own projection FIRST so the shingle lambda slices a
    bound array column: the one-projection version re-tokenized per array
    element (no CSE inside higher-order lambdas) and was 9× slower."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), T.tokens(F.col(text_col)).alias("_toks")
    )
    return toks.select(
        "doc_id",
        F.explode(T.shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    *,
    rows: int,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, candidates via the inverted
    index (only pairs sharing ≥1 shingle are ever scored). The index feeds
    the size aggregate and BOTH self-join sides, so past the SMALL regime
    of ``rows`` (the corpus row count, see operators/scale.py) it is pinned
    (see ``_pin``) — tokenization runs once, not three times.

    ``max_df`` is the 100-TB safety valve: a shingle appearing in k docs
    contributes k² candidate rows to the self-join, so one boilerplate
    phrase shared by 10^6 docs alone generates 10^12 rows. Capping document
    frequency removes those stop-shingles from the VOCABULARY (index and
    sizes both): Jaccard is then exact over the capped shingle space —
    the discriminative shingles — and pairs overlapping only in
    boilerplate never surface, which is the point.

    Every join here carries an explicit ``merge`` hint. Catalyst's static
    size estimate does not model explode fan-out: the shingle index (docs
    x ~hundreds of shingles) inherits the PRE-explode projection estimate,
    lands under autoBroadcastJoinThreshold, and gets picked as a hash-join
    BUILD side — the round-6 sf10 run (500k docs, ~100M index rows) died
    broadcasting the index into its own self-join
    (notEnoughMemoryToBuildAndBroadcastTableError). Since the index, the
    pair aggregate, and the size table all scale with the corpus, none may
    ever broadcast; the hints make the shuffle-everywhere plan a contract
    instead of an estimate."""
    sh = shingle_index(df, text_col, id_col, n)
    if max_df is not None:
        # document frequency as ONE count window over partition-by-shingle
        # instead of a separate groupBy + equi-join (round 12, guide §2.4):
        # the filtered output stays shingle-clustered, so the self-join
        # below reuses the same exchange — one full-index shuffle total
        # where the join form paid two (the df aggregate plus the join
        # probe side). Skew posture is unchanged: a hot boilerplate
        # shingle lands in one task either way (the old probe side
        # shuffled ALL rows by shingle too before the join dropped them);
        # window count needs no ordering and the group buffer spills.
        # Measured at sf0.1: pairs pipeline 3.7 → 2.9 s, bit-identical.
        sh = (
            sh.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    if scale.regime(rows).pin:
        sh = _pin(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.hint("merge").alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        # shuffle_hash (not merge): doc-id keys are uniform so no AQE
        # skew-split is needed, and skipping the sort matters at small SF;
        # the build side is the per-partition slice of the size table —
        # bounded as long as shuffle partitions scale with the corpus
        shared.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "na", "nb", "jaccard")
    )
    return out


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    *,
    rows: int,
) -> DataFrame:
    """Near-dup pairs by n-gram CONTAINMENT — ``shared / min(na, nb)``,
    the asymmetric twin of :func:`ngram_jaccard_pairs` (Broder's
    resemblance vs containment distinction). Jaccard misses the
    quote/snippet shape: a 100-shingle doc fully embedded in a
    10,000-shingle doc scores J ≈ 0.01 but containment 1.0 — exactly the
    duplication LLM corpora accumulate (articles quoted inside
    aggregator pages, READMEs vendored into monorepos). Same inverted-
    index candidate generation, same ``max_df`` valve, ``rows`` regime and
    hint contract as the Jaccard form; only the denominator changes."""
    sh = shingle_index(df, text_col, id_col, n)
    if max_df is not None:
        # same single-exchange df-cap window as ngram_jaccard_pairs
        sh = (
            sh.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    if scale.regime(rows).pin:
        sh = _pin(sh)
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    a, b = sh.alias("a"), sh.hint("merge").alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .withColumn(
            "containment",
            F.col("shared").cast("double")
            / F.least(F.col("na"), F.col("nb")).cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "shared", "na", "nb", "containment")
    )


def ngram_containment_pairs_sql(
    threshold: float = 0.8, n: int = 3, max_df: int | None = None
) -> str:
    sh = T.shingles_sql("text", n)
    cap = (
        f""",
raw AS (SELECT doc_id, shingle FROM sh0),
rare AS (
  SELECT shingle FROM raw GROUP BY shingle HAVING COUNT(*) <= {max_df}
),
sh AS (SELECT doc_id, raw.shingle AS shingle FROM raw JOIN rare ON raw.shingle = rare.shingle)"""
        if max_df is not None
        else ",\nsh AS (SELECT doc_id, shingle FROM sh0)"
    )
    return f"""
WITH sh0 AS (
  SELECT doc_id, unnest({sh}) AS shingle FROM documents
){cap},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, shared, sa.n_sh AS na, sb.n_sh AS nb,
       CAST(shared AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) >= {threshold}
ORDER BY doc_a, doc_b
"""


def ngram_jaccard_pairs_sql(
    threshold: float = 0.5, n: int = 3, max_df: int | None = None
) -> str:
    sh = T.shingles_sql("text", n)
    cap = (
        f""",
raw AS (SELECT doc_id, shingle FROM sh0),
rare AS (
  SELECT shingle FROM raw GROUP BY shingle HAVING COUNT(*) <= {max_df}
),
sh AS (SELECT doc_id, raw.shingle AS shingle FROM raw JOIN rare ON raw.shingle = rare.shingle)"""
        if max_df is not None
        else ",\nsh AS (SELECT doc_id, shingle FROM sh0)"
    )
    return f"""
WITH sh0 AS (
  SELECT doc_id, unnest({sh}) AS shingle FROM documents
){cap},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, shared, sa.n_sh AS na, sb.n_sh AS nb,
       CAST(shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) >= {threshold}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: Universal-hash permutation family over a 30-bit base hash:
#: ``mh_p = (A_p * h30 + B_p) mod M`` with M = 2^31-1 (prime) and constants
#: derived from md5 of the permutation id — ONE md5 per shingle row instead
#: of one per (shingle, permutation), which made signatures the hot stage
#: (P=16 ⇒ 16× the md5 work). A_p ≤ 2^28 and h30 < 2^30 keep the product
#: < 2^58: exact BIGINT arithmetic in both Spark and DuckDB.
_MH_MOD = 2_147_483_647
_H30 = 1 << 30


def _mh_consts(p: int) -> tuple[int, int]:
    import hashlib

    a = int(hashlib.md5(f"a{p}".encode()).hexdigest()[:7], 16) | 1
    b = int(hashlib.md5(f"b{p}".encode()).hexdigest()[:7], 16)
    return a, b


#: Spark-SQL twin of functions.text.hash64 (same ops, same result); used to
#: build the signature projection as ONE expression string — the Column-
#: algebra form cost ~130 py4j round trips per construction, which the
#: round-12 bench measured as real wall time (construction is inside the
#: timed region for every caller).
_HASH64_SPARK_SQL = "CAST(conv(substring(md5({c}), 1, 15), 16, 10) AS BIGINT)"


def _signatures_from_index(
    sh: DataFrame, num_perms: int, with_count: bool = False
) -> DataFrame:
    hashed = sh.selectExpr(
        "doc_id", f"{_HASH64_SPARK_SQL.format(c='shingle')} % {_H30} AS h30"
    )
    aggs = []
    for p in range(num_perms):
        a, b = _mh_consts(p)
        aggs.append(F.expr(f"min(({a} * h30 + {b}) % {_MH_MOD}) AS mh{p}"))
    if with_count:
        # index rows per doc == |distinct shingles| (shingle_index is
        # distinct by construction), so the Jaccard size table rides the
        # signature pass for free — no separate size aggregation stage.
        aggs.append(F.expr("CAST(count(1) AS BIGINT) AS n_sh"))
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 16,
    n: int = 3,
) -> DataFrame:
    """P-column MinHash signature in a single groupBy pass (P min-aggregates,
    one shuffle — not P passes over the corpus)."""
    return _signatures_from_index(shingle_index(df, text_col, id_col, n), num_perms)


def _check_bands(num_perms: int, bands: int) -> None:
    """Each band key concatenates r = num_perms / bands minhashes; with a
    remainder, ``num_perms // bands`` truncates and every band key silently
    drops the trailing permutations."""
    if bands <= 0 or num_perms % bands:
        raise ValueError(
            f"num_perms ({num_perms}) must be a multiple of bands ({bands})"
        )


def _bands_sql(num_perms: int, bands: int) -> str:
    """``array`` of the B band keys, each the concat of r = P/B minhashes."""
    r = num_perms // bands
    keys = (
        "concat_ws('|', " + ", ".join(f"mh{b * r + i}" for i in range(r)) + ")"
        for b in range(bands)
    )
    return "array(" + ", ".join(keys) + ")"


def _band_rows(sig: DataFrame, num_perms: int, bands: int) -> DataFrame:
    """One row per (doc, band) of a signature table: band id, band key and
    the doc's size ``n_sh``."""
    return sig.selectExpr(
        "doc_id",
        "n_sh",
        f"posexplode({_bands_sql(num_perms, bands)}) AS (band_id, band_key)",
    )


def _jaccard_at_least(
    pairs: DataFrame, threshold: float, a: str, b: str
) -> DataFrame:
    """``(a, b, jaccard)`` from the pairs' exact ``shared``/``na``/``nb``
    counts, kept at ``jaccard >= threshold``."""
    return (
        pairs.withColumn(
            "jaccard",
            F.expr("CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _banded_with_arrays(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perms: int,
    bands: int,
    n: int,
) -> DataFrame:
    """Banded signature rows carrying the verify payload (band-local path):
    per doc, the 16 minhashes, the size, the shingle SET (collect_list
    over the distinct index — order nondeterministic and irrelevant,
    array_intersect is set-valued on distinct inputs) and ALL band keys,
    exploded to one row per band."""
    sh = shingle_index(df, text_col, id_col, n)
    hashed = sh.selectExpr(
        "doc_id",
        "shingle",
        f"{_HASH64_SPARK_SQL.format(c='shingle')} % {_H30} AS h30",
    )
    aggs = []
    for p in range(num_perms):
        a, b = _mh_consts(p)
        aggs.append(F.expr(f"min(({a} * h30 + {b}) % {_MH_MOD}) AS mh{p}"))
    aggs.append(F.expr("CAST(count(1) AS BIGINT) AS n_sh"))
    aggs.append(F.expr("collect_list(shingle) AS shs"))
    sig = hashed.groupBy("doc_id").agg(*aggs)
    bks = _bands_sql(num_perms, bands)
    return sig.selectExpr("doc_id", "n_sh", "shs", f"{bks} AS bks").selectExpr(
        "doc_id",
        "n_sh",
        "shs",
        "bks",
        "posexplode(bks) AS (band_id, band_key)",
    )


#: first-matching-band guard (band-local path): TRUE iff no EARLIER band of
#: the pair also matches, so each candidate pair is emitted exactly once —
#: no distinct exchange. slice is 1-based and length band_id selects bands
#: 0..band_id-1 (EMPTY for band 0 — sequence(0, band_id-1) would generate a
#: descending [0,-1] there, not an empty list).
_FIRST_BAND_SQL = (
    "NOT exists(zip_with(slice(a.bks, 1, a.band_id), "
    "slice(b.bks, 1, a.band_id), (x, y) -> x = y), v -> v)"
)


def _band_local_pairs(
    a: DataFrame, b: DataFrame, cond: str, names: tuple[str, str],
    threshold: float,
) -> DataFrame:
    """Band-local MinHash verify (the SMALL regime of both MinHash
    operators): shingle sets and all band keys ride the banded rows
    (:func:`_banded_with_arrays`); pairs are emitted at their first
    matching band and verified map-side. One corpus-keyed aggregation per
    side + one band join — no candidate distinct, no verify joins, no
    pins. ``cond`` (may be empty) joins the band-key match; ``names``
    names the two doc-id columns."""
    on = ["a.band_id = b.band_id", "a.band_key = b.band_key", cond, _FIRST_BAND_SQL]
    cand = (
        a.alias("a")
        .join(b.alias("b"), F.expr(" AND ".join(c for c in on if c)))
        .selectExpr(
            f"a.doc_id AS {names[0]}",
            f"b.doc_id AS {names[1]}",
            # exact shared-shingle count: same distinct strings the
            # verify join chain counted, intersected map-side
            "CAST(size(array_intersect(a.shs, b.shs)) AS BIGINT) AS shared",
            "a.n_sh AS na",
            "b.n_sh AS nb",
        )
    )
    return _jaccard_at_least(cand, threshold, *names)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    *,
    rows: int,
) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification.

    Signature → B band keys (concat of r=P/B hashes); docs sharing any band
    key become candidates (B equi-joins on uniform keys); candidates are
    verified with exact shingle Jaccard so the output is deterministic and
    threshold-exact (LSH only prunes, never admits).

    ``rows`` is the corpus row count; it picks the regime
    (operators/scale.py), which picks the verify path below.

    SMALL regime, band-local verify (round 13): the shingle SET and
    all B band keys ride the banded rows, every candidate pair is emitted
    at its FIRST matching band only (distinct by construction — no pair
    dedup exchange), and exact Jaccard is computed map-side from
    ``array_intersect`` right in the self-join's output — the entire
    verify subsystem (semi filter, two index joins, shared-count
    aggregate, candidate distinct) disappears, cutting the sequential
    stage chain roughly in half. Result-identical (exceptAll 0/0 at
    5k/50k/500k docs: the intersect counts the same distinct shingle
    strings the verify join counted). The cost is payload on the band
    exchange — 4× the corpus shingle mass instead of 16 hashes/doc —
    which is exactly the r11 payload-per-pair trade: 2.1× faster small,
    1.5-2× slower at 500k (the SMALL boundary's measurements). A single
    pass with no shared subtrees to pin.

    MID and LARGE regimes, join-chain verify. Round-12 restructure
    (results bit-identical, exceptAll-verified):

    - the per-doc size table ``n_sh`` rides the signature groupBy
      (``with_count=True``) instead of a separate aggregation over the
      semi-filtered index — one whole aggregation stage (over candidate
      shingle mass, the larger relation) removed from the verify phase;
    - ``banded`` is a cheap map over the PINNED signature table
      (posexplode of B concat keys) instead of its own pinned
      materialization — one persist barrier less, and the self-join sides
      re-derive it from the signature cache for pennies;
    - shared subtrees referenced from concurrently-submitted join branches
      (signatures, candidates, semi-filtered index) are eagerly
      materialized after persist in LARGE — a merge/hash join submits
      both input stages at once, and against a lazily-persisted cache
      BOTH compute the subtree before any block lands (the round-11 sf100
      event log measured this as twin ~80 s stages on the embedding-cosine
      path; same class here). MID stays lazy, so construction is
      side-effect-free for plan-only inspection.

    The shingle index feeds the signatures AND the verification semi-
    filter; the candidate pairs feed the doc filter plus the verify joins —
    all pinned (see ``_pin``) so tokenization/signature cost is paid once.

    Every join carries an explicit hint — same rationale as
    :func:`ngram_jaccard_pairs`: Catalyst's static stats don't model
    explode fan-out, so the shingle index / banded signatures / pair and
    size aggregates all inherit tiny estimates and get picked as hash-join
    build sides. The round-6 sf10 step caught the verification join
    broadcasting the ~100M-row shingle index. All of these relations scale
    with the corpus, so none may ever broadcast, at this or any scale."""
    _check_bands(num_perms, bands)
    rg = scale.regime(rows)
    if not rg.pin:
        banded = _banded_with_arrays(df, text_col, id_col, num_perms, bands, n)
        return _band_local_pairs(
            banded, banded.hint("shuffle_hash"), "a.doc_id < b.doc_id",
            ("doc_a", "doc_b"), threshold,
        )
    sh = _pin(shingle_index(df, text_col, id_col, n))
    sig = _pin(_signatures_from_index(sh, num_perms, with_count=True))
    if rg.eager:
        # one pass materializes the shingle index AND the signatures
        sig.count()
    # ONE self-equi-join on (band_id, band_key) instead of B separate
    # self-joins: posexplode rewrites B join branches (each of which would
    # recompute the signature subtree) into a single shuffle on a uniform
    # md5-derived key. Derived map-side from the pinned signatures.
    # ``n_sh`` rides the band rows (round 12): the self-join then carries
    # both docs' sizes into the candidate set, so the two final size joins
    # against the signature table disappear — two shuffles of the pair
    # spine removed for 16 bytes/candidate of extra width (na/nb are
    # functionally dependent on the doc ids, so the dedup cardinality is
    # unchanged). Measured at sf0.1: 2.7 → 2.3 s, bit-identical.
    banded = _band_rows(sig, num_perms, bands)
    cand = (
        banded.alias("a")
        .join(
            banded.hint("merge").alias("b"),
            F.expr(
                "a.band_id = b.band_id AND a.band_key = b.band_key "
                "AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            "a.n_sh AS na",
            "b.n_sh AS nb",
        )
        .distinct()
    )
    cand = _pin(cand)
    if rg.eager:
        cand.count()

    # Verify ONLY the LSH candidates (this is the point of LSH: exact
    # Jaccard cost scales with |candidates|, not with shared-shingle mass
    # over the whole corpus) — and against a SEMI-FILTERED slice of the
    # index: only docs that appear in some candidate pair carry their
    # shingles into the verification joins. Without the filter, the
    # (doc, shingle)-keyed join re-shuffles the ENTIRE corpus index a
    # second time; with it, verification shuffle volume scales with
    # candidate-doc mass (near-dup rate x corpus), not corpus size. The
    # semi join is one doc_id-keyed pass over the pinned index.
    # shuffle_hash on the filter side: its pre-explode estimate is tiny
    # (Catalyst doesn't model explode fan-out), so unhinted it could be
    # picked as a broadcast build even when corpus-scaled.
    cand_docs = cand.selectExpr(
        "explode(array(doc_a, doc_b)) AS doc_id"
    )  # no distinct: LEFT SEMI dedups the build side for free
    shc = _pin(sh.join(cand_docs.hint(rg.pair_join), "doc_id", "semi"))
    if rg.eager:
        shc.count()
    # pair_join is shuffle_hash in MID: doc-id join keys are uniform
    # (no skew-split needed) and the build side is the per-partition
    # slice of the candidate set — LSH-bounded and far smaller than the
    # index it probes, so skipping SMJ's two index sorts wins at <=sf10.
    # LARGE switches to merge (sort-merge spills; see operators/scale.py).
    # sizes already ride the candidate rows (na/nb grouped through — one
    # value per (doc_a, doc_b) group by construction), so no join against
    # the signature table is needed after the verify aggregate
    shared = (
        cand.hint(rg.pair_join)
        .join(shc.selectExpr("doc_id AS doc_a", "shingle"), "doc_a")
        .hint(rg.pair_join)
        .join(shc.selectExpr("doc_id AS doc_b", "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS shared"))
    )
    return _jaccard_at_least(shared, threshold, "doc_a", "doc_b")


def minhash_lsh_pairs_sql(
    num_perms: int = 16, bands: int = 4, n: int = 3, threshold: float = 0.5
) -> str:
    _check_bands(num_perms, bands)
    r = num_perms // bands
    sh = T.shingles_sql("text", n)
    h30 = f"({T.hash64_sql('shingle')} % {_H30})"
    mh_cols = ",\n    ".join(
        "MIN(({a} * {h} + {b}) % {m}) AS mh{p}".format(
            a=_mh_consts(p)[0], b=_mh_consts(p)[1], h=h30, m=_MH_MOD, p=p
        )
        for p in range(num_perms)
    )
    band_cols = ",\n    ".join(
        "concat_ws('|', " + ", ".join(f"mh{b * r + i}" for i in range(r)) + f") AS band{b}"
        for b in range(bands)
    )
    band_joins = "\nUNION ALL\n".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a "
        f"JOIN banded b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({sh}) AS shingle FROM documents
),
sig AS (
  SELECT doc_id,
    {mh_cols}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
    {band_cols}
  FROM sig
),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM ({band_joins})
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(s.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s.shared AS DOUBLE) AS jaccard
FROM cand c
JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE CAST(s.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s.shared AS DOUBLE) >= {threshold}
ORDER BY c.doc_a, c.doc_b
"""


# ---------------------------------------------------------------------------
# incremental MinHash dedup — new batch vs. an existing (already-deduped)
# corpus
# ---------------------------------------------------------------------------


def minhash_incremental_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    *,
    rows: int,
) -> DataFrame:
    """Cross-set near-dup detection: which NEW documents duplicate the
    EXISTING corpus? Returns ``(new_doc, dup_of, jaccard)`` pairs at
    ``jaccard >= threshold``; the batch's survivors are its anti-join
    against ``new_doc``.

    ``rows`` is the corpus row count; its regime (operators/scale.py)
    picks the verify path, as in :func:`minhash_lsh_pairs`. SMALL is
    band-local (round 13): shingle sets and band keys ride both sides'
    band rows, pairs surface at their first matching band only, and exact
    Jaccard is computed map-side — the candidate distinct and both verify
    joins disappear (single pass, no shared subtrees). MID and LARGE run
    the join chain below over pinned shingle indexes.

    This is the shape a continuously-ingesting pipeline actually runs —
    full-corpus pair generation (:func:`minhash_lsh_pairs`) is the
    bootstrap; every subsequent increment only needs batch-vs-corpus. In
    production the corpus's banded signatures are computed ONCE and
    persisted (they are exactly the ``cb`` relation below — a band-keyed
    table that grows append-only as batches are admitted), so the
    per-increment cost is O(|batch| shingles) + band-join probes +
    verification of LSH candidates: independent of corpus size except
    through the (bounded, uniform-key) band-bucket probe.

    Join strategy mirrors :func:`minhash_lsh_pairs`: corpus-scaled
    relations (shingle index, banded signatures) may NEVER broadcast —
    Catalyst's static stats don't model explode fan-out, so each join
    carries an explicit hint. The batch-side band probe uses shuffle_hash
    (uniform md5-derived band keys; batch slice builds, corpus probes);
    verification joins are the same index-probe shape as the full variant.
    """
    _check_bands(num_perms, bands)
    if not scale.regime(rows).pin:
        return _band_local_pairs(
            _banded_with_arrays(
                batch, text_col, id_col, num_perms, bands, n
            ).hint("shuffle_hash"),
            _banded_with_arrays(corpus, text_col, id_col, num_perms, bands, n),
            "", ("new_doc", "dup_of"), threshold,
        )
    csh = _pin(shingle_index(corpus, text_col, id_col, n))
    bsh = _pin(shingle_index(batch, text_col, id_col, n))
    # round 12 (mirrors minhash_lsh_pairs): per-doc sizes ride the
    # signature groupBy (`with_count=True`) and the band rows, so the two
    # separate count aggregations over index mass — and the two
    # post-verify size joins — are gone. The signatures read the PINNED
    # indexes and each feed exactly one consumer (the band explode), so
    # they need no pin of their own.
    cb = _band_rows(
        _signatures_from_index(csh, num_perms, with_count=True), num_perms, bands
    )
    bb = _band_rows(
        _signatures_from_index(bsh, num_perms, with_count=True), num_perms, bands
    )
    # n_sh rides the band probe (round 12, same as minhash_lsh_pairs): the
    # candidate set carries both sizes, so the two post-verify size joins
    # are gone — the pair spine shuffles twice less for 16 bytes/row
    cand = (
        bb.alias("a")
        .hint("shuffle_hash")
        .join(
            cb.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("dup_of"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .distinct()
    )
    shared = (
        cand.hint("shuffle_hash")
        .join(bsh.select(F.col("doc_id").alias("new_doc"), "shingle"), "new_doc")
        .hint("shuffle_hash")
        .join(
            csh.select(F.col("doc_id").alias("dup_of"), "shingle"),
            ["dup_of", "shingle"],
        )
        .groupBy("new_doc", "dup_of", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return _jaccard_at_least(shared, threshold, "new_doc", "dup_of")


def minhash_incremental_pairs_sql(
    corpus_pred: str,
    batch_pred: str,
    num_perms: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> str:
    _check_bands(num_perms, bands)
    r = num_perms // bands
    sh = T.shingles_sql("text", n)
    h30 = f"({T.hash64_sql('shingle')} % {_H30})"
    mh_cols = ",\n    ".join(
        "MIN(({a} * {h} + {b}) % {m}) AS mh{p}".format(
            a=_mh_consts(p)[0], b=_mh_consts(p)[1], h=h30, m=_MH_MOD, p=p
        )
        for p in range(num_perms)
    )
    band_cols = ",\n    ".join(
        "concat_ws('|', "
        + ", ".join(f"mh{b * r + i}" for i in range(r))
        + f") AS band{b}"
        for b in range(bands)
    )
    band_joins = "\nUNION ALL\n".join(
        f"SELECT a.doc_id AS new_doc, b.doc_id AS dup_of FROM bbanded a "
        f"JOIN cbanded b ON a.band{b} = b.band{b}"
        for b in range(bands)
    )
    return f"""
WITH csh AS (
  SELECT doc_id, unnest({sh}) AS shingle FROM documents WHERE {corpus_pred}
),
bsh AS (
  SELECT doc_id, unnest({sh}) AS shingle FROM documents WHERE {batch_pred}
),
csig AS (SELECT doc_id, {mh_cols} FROM csh GROUP BY doc_id),
bsig AS (SELECT doc_id, {mh_cols} FROM bsh GROUP BY doc_id),
cbanded AS (SELECT doc_id, {band_cols} FROM csig),
bbanded AS (SELECT doc_id, {band_cols} FROM bsig),
cand AS (SELECT DISTINCT new_doc, dup_of FROM ({band_joins})),
bsz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM bsh GROUP BY doc_id),
csz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM csh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS new_doc, b.doc_id AS dup_of, CAST(COUNT(*) AS BIGINT) AS shared
  FROM bsh a JOIN csh b ON a.shingle = b.shingle
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.new_doc, c.dup_of,
       CAST(s.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s.shared AS DOUBLE) AS jaccard
FROM cand c
JOIN shared s ON s.new_doc = c.new_doc AND s.dup_of = c.dup_of
JOIN bsz sa ON sa.doc_id = c.new_doc
JOIN csz sb ON sb.doc_id = c.dup_of
WHERE CAST(s.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s.shared AS DOUBLE) >= {threshold}
ORDER BY c.new_doc, c.dup_of
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Per-doc SimHash fingerprint: distinct tokens hashed to 60 bits, each
    of the low ``bits`` positions votes ±1, sign vector packs to a BIGINT.

    ``bits`` <= 60 rides one 60-bit token hash and returns one ``simhash``
    column (byte-identical to every prior round — the oracle-gated path).
    60 < ``bits`` <= 120 returns a second ``simhash_hi`` word whose votes
    come from an INDEPENDENT second 60-bit hash (md5 hex chars 17..31 —
    the md5 is already computed per token, so the second word costs no
    extra hashing). The sf100 sweep motivated the widening: at 5M docs
    the 60-bit ceiling capped band width at 15 bits, and 4*C(5M,2)/2^15
    ~ 1.5e9 RANDOM band collisions put a quadratic straggler task in the
    banded self-join — width must keep growing with log2(n) for the
    candidate count to stay ~linear (see _simhash_bits in queries.py)."""
    if bits > 120:
        raise ValueError("simhash supports at most 120 bits (2x60-bit words)")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(T.tokens(F.col(text_col)))).alias("w"),
    ).withColumn("hv", T.hash64(F.col("w")))
    lo_bits = min(bits, 60) if bits <= 60 else bits // 2
    hi_bits = bits - lo_bits
    if hi_bits:
        toks = toks.withColumn(
            "hv2",
            F.conv(F.substring(F.md5(F.col("w")), 17, 15), 16, 10).cast("long"),
        )
    # One groupBy with `bits` sum-aggregates — NOT a per-bit explode: the
    # explode version shuffles bits× the token count; this shuffles the
    # token rows once and folds all bit votes map-side (partial agg).
    aggs = [
        F.sum(F.expr(f"(shiftright(hv, {b}) & 1) * 2 - 1")).alias(f"s{b}")
        for b in range(lo_bits)
    ] + [
        F.sum(F.expr(f"(shiftright(hv2, {b}) & 1) * 2 - 1")).alias(f"t{b}")
        for b in range(hi_bits)
    ]
    votes = toks.groupBy("doc_id").agg(*aggs)

    def _pack(prefix: str, n: int):
        packed = None
        for b in range(n):
            term = F.when(
                F.col(f"{prefix}{b}") > 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            packed = term if packed is None else packed + term
        return packed.cast("long")

    cols = ["doc_id", _pack("s", lo_bits).alias("simhash")]
    if hi_bits:
        cols.append(_pack("t", hi_bits).alias("simhash_hi"))
    return votes.select(*cols)


def simhash_sql(bits: int = 32) -> str:
    hv = T.hash64_sql("w")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+'), t -> t != ''))) AS w
  FROM documents
),
h AS (SELECT doc_id, {hv} AS hv FROM toks),
votes AS (
  SELECT doc_id, b, SUM(((hv >> b) & 1) * 2 - 1) AS s
  FROM h, unnest(generate_series(0, {bits - 1})) t(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

def ngram_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Flag training documents that share any word ``n``-gram with an
    evaluation/benchmark document — the standard train/test
    decontamination pass an LLM data pipeline runs before training
    (GPT-3 appendix C / PaLM style: 8-13-gram collision ⇒ contaminated;
    the fixture corpus is short-doc so tests use n=5).

    Returns one row per contaminated training doc:
    ``(doc_id, n_eval_docs, n_shared_ngrams)``.

    Scale posture: the eval side is a benchmark suite — thousands of
    docs, not billions — so its shingle index is broadcast; the corpus
    side is a map-only explode until the single groupBy on
    ``doc_id``. Corpus cost is O(corpus shingles), never corpus x eval.
    """
    tr = shingle_index(corpus, text_col, id_col, n)
    ev = (
        shingle_index(eval_docs, text_col, id_col, n)
        .withColumnRenamed("doc_id", "eval_doc_id")
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
            F.countDistinct("shingle").alias("n_shared_ngrams"),
        )
    )


def ngram_contamination_sql(n: int = 5, eval_mod: int = 17) -> str:
    """DuckDB twin of ``ngram_contamination`` with the eval set carved
    out of ``documents`` by ``doc_id % eval_mod = 0``."""
    sh = T.shingles_sql("text", n)
    return f"""
WITH idx AS (
  SELECT doc_id, UNNEST({sh}) AS shingle FROM documents
),
ev AS (SELECT doc_id AS eval_doc_id, shingle FROM idx WHERE doc_id % {eval_mod} = 0),
tr AS (SELECT * FROM idx WHERE doc_id % {eval_mod} != 0)
SELECT tr.doc_id,
       COUNT(DISTINCT ev.eval_doc_id) AS n_eval_docs,
       COUNT(DISTINCT tr.shingle) AS n_shared_ngrams
FROM tr JOIN ev USING (shingle)
GROUP BY tr.doc_id
ORDER BY tr.doc_id
"""


# ---------------------------------------------------------------------------
# Duplicated-span REMOVAL (CCNet/RefinedWeb rewrite step)
# ---------------------------------------------------------------------------

def duplicate_block_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_docs: int = 2,
    delim: str = " ",
) -> DataFrame:
    """Rewrite each document with corpus-duplicated spans REMOVED — the
    mutation step that follows a duplicated-span inventory
    (:func:`~go_pq_cdc_kafka_spark.queries.dedup_token_windows` is the
    read-only half). CCNet-style: tokenize on ``delim``, group tokens into
    consecutive ``width``-sized blocks, drop every block whose exact text
    occurs in ``>= min_docs`` distinct documents, and reassemble the
    survivors in original order. ``delim='\\n', width=1`` is classic
    line-level boilerplate removal (nav bars, cookie banners); the default
    tokens-of-8 form matches the fixture corpus, which has no newlines.

    Scale shape (100 TB posture): blocking is map-side (sequence+slice
    Column exprs, no Python); the duplicate census is one hash-groupBy on
    (block) after an implicit per-(block, doc) distinct — both map-side
    combinable; removal is a shuffle anti-join on the block text (the
    common-block set is corpus-boilerplate-sized, so Spark's AQE usually
    demotes it to broadcast); reassembly is one groupBy on the doc id.
    No all-pairs comparison anywhere. Output keeps empty survivors (a doc
    that was 100% boilerplate comes back with ``text_clean=''``) so row
    count is stable for auditing.

    ``delim`` is a LITERAL delimiter: ``F.split`` takes a Java regex, so
    the pattern is regex-escaped here while ``concat_ws``/``array_join``
    use the raw string — without the escape a delimiter like ``'.'`` or
    ``'|'`` tokenizes wrongly and silently corrupts block boundaries.
    """
    # split bound in its own projection first: inside the transform lambda
    # Catalyst does not CSE the split, so an inline expression would
    # re-tokenize per block — O(tokens²) per row
    toks = F.col("_toks")
    n_blocks = F.ceil(F.size(toks) / F.lit(width)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), n_blocks - F.lit(1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(delim, F.slice(toks, i * width + 1, width)).alias("block"),
        ),
    )
    exploded = df.select(
        F.col(id_col), F.split(F.col(text_col), re.escape(delim)).alias("_toks")
    ).select(F.col(id_col), F.inline(blocks))
    common = (
        exploded.groupBy("block")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("block")
    )
    kept = exploded.join(common, "block", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kept_blocks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "block"))),
                lambda s: s["block"],
            ),
            delim,
        ).alias("text_clean"),
    )
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), re.escape(delim)).alias("_toks")
    ).select(F.col(id_col), n_blocks.cast("long").alias("total_blocks"))
    return base.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("kept_blocks"), F.lit(0)).cast("long").alias("kept_blocks"),
        (F.col("total_blocks") - F.coalesce(F.col("kept_blocks"), F.lit(0)))
        .cast("long")
        .alias("removed_blocks"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )


def duplicate_block_removal_sql(width: int = 8, min_docs: int = 2) -> str:
    """DuckDB oracle twin of :func:`duplicate_block_removal` (space-delim)."""
    w = width
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
blocks AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(len(toks) / {w}.0) AS INT))) AS pos,
         unnest([array_to_string(toks[i*{w}+1:i*{w}+{w}], ' ')
                 for i in range(CAST(ceil(len(toks) / {w}.0) AS INT))]) AS block
  FROM tok
),
common AS (
  SELECT block FROM blocks GROUP BY block
  HAVING COUNT(DISTINCT doc_id) >= {min_docs}
),
kept AS (
  SELECT * FROM blocks WHERE block NOT IN (SELECT block FROM common)
),
rebuilt AS (
  SELECT doc_id,
         COUNT(*) AS kept_blocks,
         STRING_AGG(block, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(r.kept_blocks, 0) AS BIGINT) AS kept_blocks,
       CAST(CAST(ceil(len(string_split(d.text, ' ')) / {w}.0) AS INT)
            - COALESCE(r.kept_blocks, 0) AS BIGINT) AS removed_blocks,
       COALESCE(r.text_clean, '') AS text_clean
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup PAIRS from SimHash fingerprints via banded Hamming LSH —
    the pairing step on top of :func:`simhash` (which emits per-doc
    fingerprints only).

    Pigeonhole guarantee: a pair within Hamming distance < ``bands`` must
    agree exactly on at least one of the ``bands`` contiguous bit-bands,
    so banding finds every pair with distance <= bands-1 and (beyond that)
    a useful recall tail; the exact ``bit_count(xor)`` verification then
    keeps only pairs ``<= max_hamming`` — candidates are pruned, never
    admitted, so the output is deterministic and threshold-exact.

    Scale shape: fingerprints are one corpus shuffle (see simhash); the
    band self-join is ONE posexplode equi-join on (band_id, band_key)
    uniform keys — identical to the MinHash-LSH plan — and verification
    is a constant-time xor per candidate. No all-pairs stage anywhere."""
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    mask = (1 << width) - 1
    two_words = bits > 60
    if two_words and bands % 2:
        raise ValueError("two-word fingerprints need an even band count")
    fp = simhash(df, text_col, id_col, bits)
    if two_words:
        # word boundary aligned to a band boundary: the low word holds
        # bands [0, bands/2), the high word the rest — every band is a
        # contiguous slice of ONE word, so the pigeonhole completeness
        # argument (a pair within distance < bands agrees on some band)
        # carries over to the widened fingerprint unchanged.
        band_exprs = [
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                F.lit(mask).cast("long")
            )
            for b in range(bands // 2)
        ] + [
            F.shiftright(F.col("simhash_hi"), b * width).bitwiseAND(
                F.lit(mask).cast("long")
            )
            for b in range(bands // 2)
        ]
        fp_cols = ["doc_id", "simhash", "simhash_hi"]
    else:
        band_exprs = [
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                F.lit(mask).cast("long")
            )
            for b in range(bands)
        ]
        fp_cols = ["doc_id", "simhash"]
    banded = fp.select(
        *fp_cols,
        F.posexplode(F.array(*band_exprs)).alias("band_id", "band_key"),
    )
    # The band self-join MULTIPLIES: its output (random band collisions +
    # real dup-cluster pairs) is orders of magnitude larger than its
    # input, and the emission per band key is QUADRATIC in the key's doc
    # count — at sf0.1 one band key held 2,566 docs = 3.3M of the 8.9M
    # candidate checks, and AQE additionally coalesced the tiny-input
    # ENSURE_REQUIREMENTS exchange into ONE partition, putting the whole
    # join in a single 2.5 s task (event-log stage 25, round 12). AQE
    # skew-join never fires here (it keys on the 256 MB partition-byte
    # threshold; the blowup is in the OUTPUT). Two fixes compose:
    #
    # 1. SALT the self-join (guide §2.5): each doc carries its own salt
    #    `pmod(xxhash64(doc_id), s)`; the table is replicated s ways on a
    #    synthetic `_salt` and a pair (a, b) meets exactly once — in the
    #    partition where `_salt == a's own salt`. Side A filters to its
    #    own salt POST-shuffle, so both join children share ONE exchange
    #    (ReusedExchange) and the per-key comparison count is unchanged
    #    (sum over salts of (n/s)·n = n²) — only the tail splits s ways.
    #    The cost is an s× larger band-table shuffle (rows are ~32 bytes;
    #    the table is fingerprint-sized, the smallest corpus-scaled
    #    relation here).
    # 2. An explicit repartition on the salted key is exempt from AQE
    #    coalescing; max(defaultParallelism, shuffle.partitions) never
    #    lowers a bigger configured production shuffle width.
    sess = banded.sparkSession
    n_part = max(
        sess.sparkContext.defaultParallelism,
        int(sess.conf.get("spark.sql.shuffle.partitions")),
    )
    n_salt = 8
    salted = banded.select(
        *banded.columns,
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salt))
        .cast("int")
        .alias("_osalt"),
        F.explode(
            F.array(*[F.lit(i).cast("int") for i in range(n_salt)])
        ).alias("_salt"),
    ).repartition(n_part, "band_id", "band_key", "_salt")
    side_a = salted.filter(F.col("_salt") == F.col("_osalt"))
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    if two_words:
        hamming = (
            hamming
            + F.bit_count(
                F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi"))
            ).cast("int")
        ).cast("int")
    cand = (
        side_a.alias("a")
        .join(
            # merge hint: corpus-sized banded self-join must never
            # broadcast — same rationale as minhash_lsh_pairs
            salted.hint("merge").alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        # verify BEFORE the dedup exchange (round 12, guide §2.3): the
        # hamming check is a constant-time xor per candidate, while the
        # distinct shuffles its whole input — and the candidate set
        # (random band collisions + real dups; 8.9M rows at sf0.1, the
        # largest relation in this pipeline) is dominated by collisions
        # that FAIL the check. Filter∘distinct ≡ distinct∘filter here
        # because hamming is a function of the (doc_a, doc_b) dedup key,
        # so results are bit-identical; the dedup exchange now carries
        # only the near-dup tail.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand


def simhash_pairs_sql(
    bits: int = 32, bands: int = 4, max_hamming: int = 6
) -> str:
    """DuckDB twin of :func:`simhash_pairs` (documents view)."""
    width = bits // bands
    mask = (1 << width) - 1
    fp_sql = simhash_sql(bits).replace("ORDER BY doc_id", "")
    return f"""
WITH fp AS ({fp_sql}),
banded AS (
  SELECT doc_id, simhash, b AS band_id,
         (simhash >> (b * {width})) & {mask} AS band_key
  FROM fp, unnest(generate_series(0, {bands - 1})) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand
WHERE hamming <= {max_hamming}
ORDER BY doc_a, doc_b
"""
