"""Sources/sinks for the pages and extracted-docs tables.

Reference scan/sink inventory: SURVEY §2.1 (S1-S12). The sharded
sink's layout is Iceberg-compatible (url-hash bucket partition column,
snapshot-style append), so a real catalog can take it over.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from docling_eval_spark.datagen.pages import PAGES_SCHEMA

# S1: parquet shard scan (schema enforced — no inference at scale)
def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


# S8: sharded sink — shard cadence via maxRecordsPerFile (the
# reference writes SHARD_SIZE=1000-row shards, `utils.py:377-403`)
def write_sharded(
    df: DataFrame,
    path: str,
    records_per_shard: int = 1000,
    bucket_by_url: int | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df
    if bucket_by_url is not None:
        writer = df.withColumn(
            "bucket",
            F.pmod(F.xxhash64("url"), F.lit(bucket_by_url)).cast("int"),
        )
    (
        writer.write.mode(mode)
        .option("maxRecordsPerFile", records_per_shard)
        .partitionBy(*(["bucket"] if bucket_by_url is not None else []))
        .parquet(path)
    )

