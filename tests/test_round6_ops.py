"""Semantic invariants of the round-6 continuation operators: the banded
Levenshtein equals the full DP exactly on the kept set, the length-band
prune never drops a passing pair, boilerplate grams count occurrences
(not distinct grams) with a total deterministic order, per-source dup
marginals reconcile with the global pair census, prototype pruning drops
exactly the per-cell 10% head, and the probe-recall curve is monotone in
nprobe.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF_DIR):
    return all_queries()[name].fn(spark, sf)


def test_banded_levenshtein_equals_full_dp(spark):
    """levenshtein(a, b, band) must return the TRUE distance whenever the
    25% filter keeps the pair, and -1 exactly when the filter would drop
    it — including empty strings, identical strings, and the threshold
    boundary (dist * 4 == max_len)."""
    rows = [
        (1, "", ""),                       # both empty: dist 0, band 0
        (2, "abcd abcd", "abcd abcd"),     # identical: dist 0
        (3, "aaaabbbb", "aaaabbbc"),       # dist 1, max 8, band 2: kept
        (4, "aaaabbbb", "aaaabbcc"),       # dist 2 == band 2: boundary keep
        (5, "aaaabbbb", "aaaabccc"),       # dist 3 > band 2: dropped
        (6, "short", "an entirely different long text"),
    ]
    df = spark.createDataFrame(rows, "pair_id long, a string, b string")
    out = df.select(
        "pair_id",
        F.levenshtein("a", "b").alias("full"),
        F.expr("levenshtein(a, b, CAST(greatest(length(a), length(b)) "
               "DIV 4 AS INT))").alias("banded"),
        F.expr("CAST(greatest(length(a), length(b)) DIV 4 AS INT)")
        .alias("band"),
    ).collect()
    for r in out:
        if r["full"] <= r["band"]:
            assert r["banded"] == r["full"], r
        else:
            assert r["banded"] == -1, r


def test_length_band_prune_is_sound(spark):
    """|len_a - len_b| > band implies the full DP also exceeds the band —
    the prune can never drop a pair the oracle keeps."""
    rows = [(i, "x" * la, "y" * lb)
            for i, (la, lb) in enumerate(
                [(0, 5), (10, 2), (40, 29), (40, 30), (8, 8)])]
    df = spark.createDataFrame(rows, "pair_id long, a string, b string")
    out = df.select(
        F.levenshtein("a", "b").alias("full"),
        F.expr("CAST(greatest(length(a), length(b)) DIV 4 AS INT)")
        .alias("band"),
        F.expr("abs(length(a) - length(b))").alias("ldiff"),
    ).collect()
    for r in out:
        if r["ldiff"] > r["band"]:
            assert r["full"] > r["band"], r


def test_edit_distance_dedup_pairs_pass_their_own_threshold(spark):
    rows = _run(spark, "edit_distance_dedup").collect()
    assert rows, "planted near-dups must produce at least one kept pair"
    for r in rows:
        assert r["edit_dist"] >= 0
        assert r["edit_dist"] * 4 <= r["max_len"]


def test_boilerplate_ngrams_counts_and_order(spark):
    rows = _run(spark, "boilerplate_ngrams").collect()
    assert rows, "planted duplicate docs share 5-grams"
    for r in rows:
        assert r["n_docs"] >= 2
        assert r["n_occurrences"] >= r["n_docs"]
        assert len(r["gram"].split(" ")) == 5
    keys = [(-r["n_docs"], -r["n_occurrences"], r["gram"]) for r in rows]
    assert keys == sorted(keys), "top-50 must be totally ordered"


def test_dedup_rate_by_source_reconciles_with_global_census(spark):
    rows = _run(spark, "dedup_rate_by_source").collect()
    from tigerbeetle_cdc_nats_spark.queries_dedup import (
        DUP_CLUSTER_THRESHOLD,
        corpus_minhash_pairs,
    )
    edges = corpus_minhash_pairs(spark, SF_DIR).where(
        F.col("est_jaccard") >= DUP_CLUSTER_THRESHOLD)
    n_pair_ends = 2 * edges.count()
    n_dup_docs = (edges.select(F.col("doc_a").alias("d"))
                  .union(edges.select("doc_b")).distinct().count())
    assert sum(r["n_pair_ends"] for r in rows) == n_pair_ends
    assert sum(r["n_dup_docs"] for r in rows) == n_dup_docs
    for r in rows:
        assert 0 <= r["n_dup_docs"] <= r["n_docs"]
        assert r["dup_frac_e6"] == (1_000_000 * r["n_dup_docs"]) // r["n_docs"]


def test_prototype_pruning_drops_exactly_the_head(spark):
    rows = _run(spark, "prototype_pruning").collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        n = len(members)
        assert all(m["n_cell"] == n for m in members)
        ranks = sorted(m["proto_rank"] for m in members)
        assert ranks == list(range(1, n + 1)), f"cell {cell} rank gap"
        dropped = {m["proto_rank"] for m in members if m["dropped"] == 1}
        expected = {k for k in range(1, n + 1) if k * 10 <= n}
        assert dropped == expected, f"cell {cell}"
        # the dropped head really is the most prototypical slice
        if dropped:
            kept_best = max(m["proto_sim_e6"] for m in members
                            if m["dropped"] == 0)
            drop_worst = min(m["proto_sim_e6"] for m in members
                             if m["dropped"] == 1)
            assert drop_worst >= kept_best


def test_ivf_probe_recall_monotone_in_nprobe(spark):
    rows = {r["nprobe"]: r for r in _run(spark, "ivf_probe_recall").collect()}
    assert set(rows) == {1, 2, 3}
    assert (rows[1]["n_candidates"] <= rows[2]["n_candidates"]
            <= rows[3]["n_candidates"])
    assert (rows[1]["n_hits"] <= rows[2]["n_hits"] <= rows[3]["n_hits"]), (
        "probing more lists can only add candidates, never lose a hit")
    for r in rows.values():
        assert 0 <= r["n_hits"] <= 25
        assert r["recall_e6"] == (1_000_000 * r["n_hits"]) // 25


def test_mad_outliers_histogram_equals_rank_based(spark):
    """Round-10 scale fix: the registered mad_outliers computes its exact
    medians from the value-histogram CDF (one map-side-combinable shuffle
    of the raw rows); the pre-round-10 rank-based form survives as the
    bit-equality fixture. The ts tie-break in the rank form never changes
    WHICH value sits at the median rank, so the two are exactly equal."""
    from tests.reference_forms import mad_outliers_rank_based

    got = sorted(map(tuple, _run(spark, "mad_outliers").collect()))
    ref = sorted(map(tuple,
                     mad_outliers_rank_based(spark, SF_DIR).collect()))
    assert got == ref and len(got) >= 1
