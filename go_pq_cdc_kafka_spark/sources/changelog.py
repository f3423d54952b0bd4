"""Deterministic change-log fixtures + replay sources.

The reference's correctness story is E2E: mutate Postgres, consume the topic,
assert payloads (SURVEY §5). Our deterministic stand-in for "mutate Postgres"
is a generated change log written as ordered parquet files; replaying it with
the file stream source (``maxFilesPerTrigger=1``) yields reproducible
micro-batches, with the file index playing the WAL-position role.

At scale this is also the production-shaped path: a CDC feed landed on
object storage (or Kafka) is exactly "ordered files of envelope rows";
nothing here is test-only plumbing.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from go_pq_cdc_kafka_spark import envelope as env


def generate_table_changelog(
    df: DataFrame,
    pk_col: str,
    table_name: str,
    table_namespace: str = "public",
    update_mod: int = 10,
    delete_mod: int = 7,
) -> DataFrame:
    """Deterministic dynamic-tier change log for a base table (FIXTURES.md §2
    recipe): every row as SNAPSHOT (lsn=0), then INSERTs re-keyed past the max
    pk (lsn=1M+pk), then UPDATEs for pk % update_mod == 0 (lsn=2M+pk), then
    DELETEs for pk % delete_mod == 0 (lsn=3M+pk). Updates carry the full
    pre-image (replica identity FULL, connector_test.go:62-64)."""
    M = 1_000_000
    pk = F.col(pk_col)
    snap = env.snapshot_events(df, table_name, table_namespace, lsn=F.lit(0))

    inserted = df.withColumn(pk_col, pk + M)
    ins = env.insert_events(
        inserted, table_name, table_namespace, lsn=F.col(pk_col).cast("long")
    )

    upd_base = df.filter(pk % update_mod == 0)
    old_new = upd_base.select(
        F.struct(*upd_base.columns).alias("old"),
        F.struct(*upd_base.columns).alias("new"),
    )
    upd = env.update_events(
        old_new,
        table_name,
        table_namespace,
        lsn=(F.col("old." + pk_col).cast("long") + 2 * M),
    )

    dels = env.delete_events(
        df.filter(pk % delete_mod == 0),
        table_name,
        table_namespace,
        lsn=(pk.cast("long") + 3 * M),
    )

    return (
        env.to_dynamic(snap)
        .unionByName(env.to_dynamic(ins))
        .unionByName(env.to_dynamic(upd))
        .unionByName(env.to_dynamic(dels))
    )


def write_changelog(log: DataFrame, path: str, num_files: int = 4) -> None:
    """Write the change log as ordered parquet files: file i holds the i-th
    LSN range, so a ``maxFilesPerTrigger=1`` replay sees WAL order across
    micro-batches. Range-partition by lsn → one sorted file per bucket.

    The file stream source replays in modification-time order, and a single
    parallel write gives every part file the same mtime — so the part files
    are re-stamped with strictly increasing mtimes in name (= LSN-range)
    order to make cross-batch replay order deterministic."""
    (
        log.repartitionByRange(num_files, "lsn")
        .sortWithinPartitions("lsn")
        .write.mode("overwrite")
        .parquet(path)
    )
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = os.path.getmtime(os.path.join(path, parts[0])) if parts else 0
    for i, f in enumerate(parts):
        t = base + i + 1
        os.utime(os.path.join(path, f), times=(t, t))


def read_changelog(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_changelog_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay a written change log as a stream; one file per micro-batch by
    default (deterministic batches for the restart tests)."""
    schema = spark.read.parquet(path).schema
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # lexicographic file order == lsn order per write_changelog
        .option("latestFirst", "false")
    )
    return reader.parquet(path)


def append_batch(log: DataFrame, path: str) -> None:
    """Append one more batch of events (new files ⇒ new micro-batches for an
    already-running or restarted stream)."""
    log.coalesce(1).sortWithinPartitions("lsn").write.mode("append").parquet(path)
