"""Engine side of the correctness gate: the same (row count, row-hash
sum) reduction ``gen.Generator.expected_hash`` computes in DuckDB, over
a frame the engine returned, and the same row hash over one collected
row."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frame_hash(df: DataFrame, order_columns: bool = False) -> tuple[int, str]:
    parts = [
        F.col("id").cast("string"),
        F.col("customer_id").cast("string"),
        (F.col("amount") * 100).cast("long").cast("string"),
        F.unix_seconds(F.col("created_at")).cast("string"),
        F.col("status"),
        F.col("note"),
    ]
    if order_columns:
        parts += [
            F.col("_slice_idx").cast("string"),
            F.col("_row_in_slice").cast("string"),
        ]
    digest = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 15), 16, 10)
    n, h = df.agg(
        F.count(F.lit(1)), F.sum(digest.cast("decimal(38,0)"))
    ).collect()[0]
    return int(n), str(h if h is not None else 0)


def typed_batch(df: DataFrame) -> DataFrame:
    """Generated parquet (integer cents and epoch seconds) as the
    table's schema: NUMERIC(14,2) amount and TIMESTAMP created_at."""
    return df.select(
        "id",
        "customer_id",
        (F.col("cents").cast("decimal(16,0)") / 100).cast("decimal(14,2)").alias("amount"),
        F.timestamp_seconds(F.col("ts_s")).alias("created_at"),
        "status",
        "note",
    )


def row_hash(row) -> int:
    """The 60-bit md5 prefix of one collected row's canonical string, as
    ``gen.Generator.expected_row_hash`` computes it in DuckDB."""
    text = "|".join([
        str(row["id"]),
        str(row["customer_id"]),
        str(int(row["amount"] * 100)),
        str(int(row["created_at"].timestamp())),
        row["status"],
        row["note"],
    ])
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)
