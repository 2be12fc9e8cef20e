"""Persisted composed corpus-dedup verdict, built whole.

Every consumer of the COMPOSED verdict would otherwise recompute all
three stage verdicts per query (queries_pipeline.corpus_verdict). At
100 TB you verdict the corpus once and serve the stored artifact.

Layout: ``verdict/`` — ``(doc_id, rep_id, is_kept, stage)`` parquet, one
row per corpus doc — plus the ``_SUCCESS`` trust marker. A rebuild
overwrites the root.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_verdict_store(verdict: DataFrame, path: str) -> None:
    """Persist the verdict rows under ``path``."""
    (verdict.select("doc_id", "rep_id", "is_kept", "stage")
     .write.mode("overwrite").parquet(os.path.join(path, "verdict")))
    open(os.path.join(path, "_SUCCESS"), "a").close()


def read_corpus_verdict(spark: SparkSession, path: str) -> DataFrame:
    """|docs|-sized composed verdict from the store: the build writes one
    row per doc_id, so the rows are served as stored."""
    from tigerbeetle_cdc_nats_spark.session import memo_read_parquet

    return memo_read_parquet(spark, os.path.join(path, "verdict"))
