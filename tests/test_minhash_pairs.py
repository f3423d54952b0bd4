"""MinHash LSH pair operators (operators/dedup.py): preconditions that
must fail loudly rather than change the answer."""

import pytest

from go_pq_cdc_kafka_spark.operators import dedup as DD


def test_minhash_rejects_bands_not_dividing_perms(spark):
    """Band keys concatenate num_perms / bands minhashes: 10 perms in 4
    bands would truncate to 2 per band and silently drop the trailing
    two permutations, so every entry point refuses the split."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    kw = dict(num_perms=10, bands=4)
    calls = [
        lambda: DD.minhash_lsh_pairs(docs, **kw),
        lambda: DD.minhash_lsh_pairs(docs, band_local=True, **kw),
        lambda: DD.minhash_incremental_pairs(docs, docs, **kw),
        lambda: DD.minhash_incremental_pairs(docs, docs, band_local=True, **kw),
        lambda: DD.minhash_lsh_pairs_sql(**kw),
        lambda: DD.minhash_incremental_pairs_sql("true", "true", **kw),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="multiple of bands"):
            call()
