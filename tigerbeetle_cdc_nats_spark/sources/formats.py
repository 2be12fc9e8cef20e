"""File-format source (SURVEY.md §2.1 S6): parquet, the testdata format,
read with an optional EXPLICIT schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T

from tigerbeetle_cdc_nats_spark.session import configure


def read_parquet(spark: SparkSession, path: str,
                 schema: T.StructType | None = None) -> DataFrame:
    configure(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)
