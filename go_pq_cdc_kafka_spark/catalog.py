"""Fixture-table catalog: schema-aware loading of the driver's parquet tables.

The correctness driver hands each query ``(spark, sf_dir)``; everything loads
through here so the TIMESTAMP(NANOS) quirk of ``events.parquet`` is handled in
exactly one place and filters/projections still push down to the parquet scan
(the ns→µs conversion is a projection on one column; PushedFilters on the
other columns survive).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from go_pq_cdc_kafka_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical types."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (nanosAsLong): integer-divide to µs —
        # float division would lose precision at ~1.7e18 ns epoch values.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def spread_small_scan(
    df: DataFrame,
    min_partitions: int | None = None,
    key_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Repartition a scan that planned fewer partitions than the session's
    parallelism — the small-file/single-row-group case, where one task would
    otherwise run the whole CPU-heavy downstream map (tokenizing every
    document serially on one core while 31 idle).

    ``key_cols`` (round-12) opts into a DETERMINISTIC-hash spread —
    ``repartition(n, xxhash64(keys))`` — instead of round-robin
    ``repartition(n)``: a keyless repartition first pays a full local sort
    of its input (``spark.sql.execution.sortBeforeRepartition``, on since
    SPARK-23207 so retried map tasks reproduce the same row→partition
    assignment), while hash partitioning is retry-deterministic by
    construction and skips that sort (guide §2.5's deterministic-key
    advice). Measured round-12: the full-width lineitem spread dropped
    1.07 s → 0.64 s at sf0.1, entirely the skipped sort in the single scan
    task. The keys must be high-cardinality (a unique id, or the full
    consumed projection) — and note the trade: referencing columns in the
    repartition expression blocks column pruning below it, so only pass
    columns the downstream plan reads anyway (the no-key round-robin
    default keeps pruning intact for callers that project after
    spreading).

    At production scale the input's own splits exceed the core count and
    this is a no-op, so the full-payload shuffle is only ever paid when the
    data is small enough for it to be cheap."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if key_cols:
            return df.repartition(
                target, F.xxhash64(*[F.col(c) for c in key_cols])
            )
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
