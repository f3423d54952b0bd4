"""go_pq_cdc_kafka_spark — a PySpark-native engine with the capabilities of
Trendyol/go-pq-cdc-kafka (reference at /root/reference, read-only).

The reference is a PostgreSQL-WAL → Kafka streaming ETL pipeline
(connector.go:129-184 listener; kafka/producer/producer_batch.go batching).
This package re-expresses that pipeline Spark-first:

- ``envelope``   — the CDC change-event data model (reference message.go:9-76)
- ``catalog``    — fixture/table loading helpers
- ``handler``    — the user-transform layer (reference handler.go:5, T1-T4)
- ``plans``      — table→topic routing incl. partition/hypertable parents
                   (reference connector.go:194-265)
- ``sources``    — snapshot (bounded backfill) + changelog replay + CDC stream
                   (reference README.md:44-98, connector.go:80-94)
- ``streaming``  — pipeline assembly, Kafka sink config mapping, metrics
                   (reference kafka/*, config/config.go, metric.go)
- ``operators``  — relational + dedup + similarity operators (engine
                   extensions; SURVEY.md §2.B)
- ``functions``  — text analysis + multimodal column helpers

Everything is the DataFrame/SQL API; Catalyst plans the physical execution.
No RDDs, no custom Catalyst rules (SURVEY.md §4).
"""

__version__ = "0.1.0"

# Every Spark Python worker imports this package the first time it unpickles
# engine code; from then on its per-task importlib.invalidate_caches() skips
# zip archives that did not change (see _zipcache).
from go_pq_cdc_kafka_spark import _zipcache

_zipcache.install()

from go_pq_cdc_kafka_spark.envelope import (  # noqa: F401
    OP_DELETE,
    OP_INSERT,
    OP_SNAPSHOT,
    OP_UPDATE,
    dynamic_envelope_schema,
    is_delete,
    is_insert,
    is_snapshot,
    is_update,
    typed_envelope_schema,
)
