"""Stored composed corpus verdict (sources/verdict_store): the store is
built whole from the three-stage composition, and serving it must equal
the registered in-session verdict."""

from __future__ import annotations


def _rows(df):
    return sorted(map(tuple, df.select("doc_id", "rep_id", "is_kept",
                                       "stage").collect()))


def test_registered_indexed_verdict_equals_composed(spark, tmp_path):
    """corpus_verdict_indexed (batch build of the store) == the
    registered corpus_dedup_verdict, and a second call serves the
    stored artifact without rebuilding."""
    from tigerbeetle_cdc_nats_spark import queries_dedup as qd
    from tigerbeetle_cdc_nats_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    want = _rows(qs["corpus_dedup_verdict"].fn(spark, sf))
    got = _rows(qs["corpus_verdict_indexed"].fn(spark, sf))
    assert got == want
    assert qd.SERVED["corpus_verdict_indexed"] == "stored"


def test_stores_and_indexes_hold_one_row_per_id(spark):
    """The serving paths read these rows without a dedup step: the
    composed verdict store holds one row per doc, the near-dup ANN index
    one row per vector (one hash table), the MinHash index one row per
    (doc, band)."""
    import os

    from pyspark.sql import functions as F

    from tigerbeetle_cdc_nats_spark import queries_dedup as qd
    from tigerbeetle_cdc_nats_spark import queries_similarity as qs
    from tigerbeetle_cdc_nats_spark.queries_pipeline import (
        ensure_corpus_verdict_store,
    )
    from tigerbeetle_cdc_nats_spark.session import load_table

    sf = "/root/testdata/sf0.001"

    def dup_keys(df, *keys) -> int:
        return df.groupBy(*keys).count().where(F.col("count") > 1).count()

    store = spark.read.parquet(
        os.path.join(ensure_corpus_verdict_store(spark, sf), "verdict"))
    assert store.count() == load_table(spark, sf, "documents").count()
    assert dup_keys(store, "doc_id") == 0
    ann = spark.read.parquet(qs.ensure_near_dup_index(spark, sf)[0])
    assert ann.count() == load_table(spark, sf, "embeddings").count()
    assert dup_keys(ann, "vec_id") == 0
    banded = spark.read.parquet(qd._minhash_path(spark, sf))
    assert dup_keys(banded, "doc_id", "band") == 0
