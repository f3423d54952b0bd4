"""Nearest-centroid assignment (operators/similarity.py): edge cases of
the map-local argmax beyond the oracle-checked registry queries."""

from go_pq_cdc_kafka_spark.operators import similarity as SIM


def test_ivf_assign_empty_centroid_table_yields_no_rows(spark):
    """No centroids ⇒ no assignment: 0 rows, as the aggregate and window
    forms gave — not every vector with a NULL cluster."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [], "centroid_id long, centroid_vec array<double>"
    )
    for exact in (True, False):
        out = SIM.ivf_assign(vecs, cents, "vec_id", "embedding", "vid", exact=exact)
        assert out.count() == 0, exact
