"""dedup_threshold_sweep's conditional-aggregate + stack() form (the
production ``sweep_counts`` the registered query calls) must equal
the oracle's sw-explode semantics, including all-zero threshold rows and
the nested-threshold doc counting (doc in sw(t) iff its max agreement
>= t)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.queries_dedup import (
    SWEEP_MIN_AGREE,
    sweep_counts,
)


def _sweep_reference(spark, pairs):
    """The oracle's shape: explode thresholds over the pair set, count
    pairs and DISTINCT endpoint docs per threshold, spine-joined."""
    sw = (pairs.withColumn(
        "min_agree",
        F.explode(F.array(*[F.lit(t) for t in SWEEP_MIN_AGREE])))
        .where(F.col("m") >= F.col("min_agree")))
    np_ = sw.groupBy("min_agree").agg(
        F.count("*").cast("bigint").alias("n_pairs"))
    nd = (sw.select("min_agree",
                    F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
          .distinct().groupBy("min_agree")
          .agg(F.count("*").cast("bigint").alias("n_docs")))
    th = spark.createDataFrame([(t,) for t in SWEEP_MIN_AGREE],
                               "min_agree int")
    return (th.join(np_, "min_agree", "left").join(nd, "min_agree", "left")
            .select(F.col("min_agree").cast("bigint").alias("min_agree"),
                    F.coalesce("n_pairs", F.lit(0)).cast("bigint")
                    .alias("n_pairs"),
                    F.coalesce("n_docs", F.lit(0)).cast("bigint")
                    .alias("n_docs")))


def test_stack_form_matches_explode_form(spark):
    # doc 1 pairs with 2 (m=16) and 3 (m=9); docs 4-5 at the lowest cut;
    # doc 6 isolated below every threshold via m=7 (never counted)
    pairs = spark.createDataFrame(
        [(1, 2, 16), (1, 3, 9), (4, 5, 8), (6, 7, 7)],
        "doc_a long, doc_b long, m int")
    ref = {tuple(r) for r in _sweep_reference(spark, pairs).collect()}
    got = {tuple(r) for r in sweep_counts(pairs).collect()}
    assert got == ref
    # nested-threshold spot check: at the top cut only the m=16 pair and
    # its two docs survive
    by_t = {r[0]: (r[1], r[2]) for r in got}
    assert by_t[max(SWEEP_MIN_AGREE)] == (1, 2)


def test_stack_form_empty_pairs_keeps_zero_spine(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long, m int")
    got = {tuple(r) for r in sweep_counts(pairs).collect()}
    assert got == {(int(t), 0, 0) for t in SWEEP_MIN_AGREE}
