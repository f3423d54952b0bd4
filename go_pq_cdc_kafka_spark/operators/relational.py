"""Relational operators Spark lacks as single calls, built from DataFrame
compositions (SURVEY §2.B: last-write-wins).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def lww_materialize(
    changelog: DataFrame,
    key_cols: list[str],
    order_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """Last-write-wins materialization of a CDC change stream: latest event
    per key by LSN wins; DELETE tombstones drop the key. One window pass —
    shuffles once on the key, which is the minimum possible."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        changelog.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col(op_col) != "DELETE"))
        .drop("_rn")
    )
