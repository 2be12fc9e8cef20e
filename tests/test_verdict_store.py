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
