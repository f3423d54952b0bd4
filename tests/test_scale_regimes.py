"""Registry oracle on the far side of every scale switch.

The five corpus-scaled dedup operators read their strategy from
``operators/scale.py`` by corpus row count, and every fixture here sits in
the SMALL regime. Forcing MID and LARGE through ``scale.regime`` runs the
paths the registry only takes past 100k / 1M rows on the small fixture,
and each result must still equal the DuckDB oracle exactly (the
``tools/oracle_check.py`` comparison)."""

import os
import sys

import pytest

from go_pq_cdc_kafka_spark import queries as Q
from go_pq_cdc_kafka_spark.operators import scale

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import oracle_check as OC  # noqa: E402

#: registry queries that call a scale-switched operator
SWITCHED = [
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_maxdf",
    "dedup_containment_pairs",
    "dedup_embedding_cosine",
]
#: LARGE differs from MID (merge pair joins, eager pins) only where an
#: operator reads pair_join or eager
CASES = [(q, "mid") for q in SWITCHED] + [
    ("dedup_minhash_lsh", "large"),
    ("dedup_embedding_cosine", "large"),
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = OC.duck_con(sf_dir)
    yield con
    con.close()


def _drop_caches(spark) -> None:
    # the valved pair index is cached per SF, not per regime
    Q._PAIR_INDEX_CACHE.clear()
    spark.catalog.clearCache()


@pytest.mark.parametrize("name,regime", CASES)
def test_switched_query_matches_oracle_in_forced_regime(
    spark, sf_dir, duck, monkeypatch, name, regime
):
    forced = getattr(scale, regime.upper())
    asked = []
    monkeypatch.setattr(scale, "regime", lambda rows: asked.append(rows) or forced)
    _drop_caches(spark)
    try:
        got = Q.REGISTRY[name].fn(spark, sf_dir).toPandas()
    finally:
        _drop_caches(spark)
    assert asked, f"{name} never read the scale policy"
    want = duck.execute(Q.REGISTRY[name].oracle).fetchdf()
    assert OC.compare(name, got, want) == []
