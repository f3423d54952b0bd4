"""MinHash LSH pair operators (operators/dedup.py): every scale regime
(operators/scale.py) returns the same pairs and plans the shape its
boundary measurements bought, and preconditions fail loudly rather than
change the answer. Operators reach a regime through ``rows`` alone, so
the far side of each boundary runs here on the small fixture."""

import pyspark.sql.functions as F
import pytest

from go_pq_cdc_kafka_spark.catalog import load_table
from go_pq_cdc_kafka_spark.operators import dedup as DD
from go_pq_cdc_kafka_spark.operators import scale
from go_pq_cdc_kafka_spark.queries import REGISTRY
from tests.test_plans import AT_SCALE, SF, op_count

#: a row count inside each regime
ROWS = {"small": 5_000, "mid": 500_000, "large": 2_000_000}


@pytest.fixture
def uncached(spark):
    yield
    spark.catalog.clearCache()


def _plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def test_rows_pick_the_regime():
    assert scale.regime(0) is scale.SMALL
    assert scale.regime(scale.SMALL_MAX_ROWS) is scale.SMALL
    assert scale.regime(scale.SMALL_MAX_ROWS + 1) is scale.MID
    assert scale.regime(scale.MID_MAX_ROWS) is scale.MID
    assert scale.regime(scale.MID_MAX_ROWS + 1) is scale.LARGE
    for name, rows in ROWS.items():
        assert scale.regime(rows).name == name


@pytest.mark.parametrize("regime", ["mid", "large"])
def test_minhash_lsh_pairs_identical_across_regimes(spark, uncached, regime):
    """The join-chain verify (semi-filtered index, pinned, shuffle-hash or
    merge, lazy or eager) returns exactly the band-local verify's pairs:
    the verify path only prunes its input, never the answer."""
    d = load_table(spark, SF, "documents")
    small = DD.minhash_lsh_pairs(d, rows=ROWS["small"])
    other = DD.minhash_lsh_pairs(d, rows=ROWS[regime])
    assert other.exceptAll(small).count() == 0
    assert small.exceptAll(other).count() == 0


@pytest.mark.parametrize("regime", ["mid", "large"])
def test_minhash_incremental_pairs_identical_across_regimes(
    spark, uncached, regime
):
    """Cross-set: the join-chain verify == the band-local verify."""
    d = load_table(spark, SF, "documents")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    small = DD.minhash_incremental_pairs(corpus, batch, rows=ROWS["small"])
    other = DD.minhash_incremental_pairs(corpus, batch, rows=ROWS[regime])
    assert other.exceptAll(small).count() == 0
    assert small.exceptAll(other).count() == 0


@pytest.mark.parametrize("regime", ["small", "mid", "large"])
def test_minhash_lsh_plan_per_regime(spark, uncached, regime):
    d = load_table(spark, SF, "documents")
    sc = spark.sparkContext
    group = f"minhash-build-{regime}"
    sc.setJobGroup(group, "build the minhash_lsh_pairs frame")
    try:
        df = DD.minhash_lsh_pairs(d, rows=ROWS[regime])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    built_jobs = sc.statusTracker().getJobIdsForGroup(group)
    plan = _plan(df)
    joins = [
        op_count(plan, j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ]
    if regime == "small":
        # band-local: the verify subsystem is gone — exactly one
        # (shuffle-hash) self-join, no semi join, nothing pinned
        assert joins == [0, 1, 0]
        assert "LeftSemi" not in plan
        assert "InMemoryTableScan" not in plan
        assert not built_jobs
        if not AT_SCALE:
            # the registry at oracle SF is SMALL: no pins either
            for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
                assert "InMemoryTableScan" not in _plan(REGISTRY[name].fn(spark, SF))
    else:
        # every branch reads the cache (single tokenization by contract,
        # not by ReusedExchange luck); candidates are semi-filtered
        assert "InMemoryTableScan" in plan
        assert "LeftSemi" in plan
        assert joins[2] == 0  # nothing corpus-scaled ever broadcasts
    if regime == "mid":
        # lazy: construction runs no Spark job (plan-only inspection is
        # side-effect-free); pair joins are shuffle-hash
        assert not built_jobs
        assert joins[1] > 0
    if regime == "large":
        # eager pins run at construction; every pair join is sort-merge
        assert built_jobs
        assert joins[0] > 0 and joins[1] == 0


def test_minhash_rejects_bands_not_dividing_perms(spark):
    """Band keys concatenate num_perms / bands minhashes: 10 perms in 4
    bands would truncate to 2 per band and silently drop the trailing
    two permutations, so every entry point refuses the split, on both
    verify paths."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    kw = dict(num_perms=10, bands=4)
    calls = [
        lambda: DD.minhash_lsh_pairs_sql(**kw),
        lambda: DD.minhash_incremental_pairs_sql("true", "true", **kw),
    ]
    for rows in (ROWS["small"], ROWS["mid"]):
        calls += [
            lambda rows=rows: DD.minhash_lsh_pairs(docs, rows=rows, **kw),
            lambda rows=rows: DD.minhash_incremental_pairs(
                docs, docs, rows=rows, **kw
            ),
        ]
    for call in calls:
        with pytest.raises(ValueError, match="multiple of bands"):
            call()
