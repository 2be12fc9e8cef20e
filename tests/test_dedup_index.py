"""Persisted text-dedup indexes (sources/dedup_index.py): stored-vs-fresh
agreement and file-level pruning on delta probes — the text-side
counterpart of test_ann_index.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.operators import dedup as dd
from tigerbeetle_cdc_nats_spark.plans.inspect import physical_plan
from tigerbeetle_cdc_nats_spark.session import load_table
from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").persist()


@pytest.fixture(scope="module")
def mh_index(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mhidx") / "index")
    di.write_minhash_index(docs, path)
    return path


@pytest.fixture(scope="module")
def wn_index(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wnidx") / "index")
    di.write_winnow_index(docs, path)
    return path


def _pairs(df, cols=("doc_a", "doc_b", "est_jaccard")):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_minhash_stored_equals_fresh(spark, docs, mh_index):
    fresh = dd.minhash_candidate_pairs(dd.minhash_signatures(docs))
    stored = di.minhash_pairs_from_index(
        di.read_minhash_index(spark, mh_index))
    assert _pairs(stored) == _pairs(fresh)


def test_winnow_stored_equals_fresh(spark, docs, wn_index):
    from tigerbeetle_cdc_nats_spark.queries_corpus import (
        winnow_candidates_from_fp,
        winnow_fingerprints,
    )

    fresh = winnow_candidates_from_fp(winnow_fingerprints(docs))
    stored = di.winnow_candidates_from_index(
        di.read_winnow_index(spark, wn_index))
    cols = ("doc_a", "doc_b", "n_shared", "overlap_e6")
    assert _pairs(stored, cols) == _pairs(fresh, cols)


def test_minhash_probe_prunes_partitions(spark, docs, mh_index):
    delta = docs.where(F.col("doc_id") < 3)
    probe, _ = di.probe_minhash_index(spark, mh_index, delta)
    plan = physical_plan(probe)
    # the (band, shard) predicate reached the scan's partition filters
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]")[0]
    assert "band" in pf and "shard" in pf
    # probe results match the delta rows of the full self-join
    full = dd.minhash_candidate_pairs(dd.minhash_signatures(docs))
    delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
    expect = {(r["doc_a"], r["doc_b"]) for r in full.collect()
              if r["doc_a"] in delta_ids or r["doc_b"] in delta_ids}
    got = {(min(r["doc_id"], r["other_id"]), max(r["doc_id"], r["other_id"]))
           for r in probe.collect()}
    assert got >= expect  # probe sees every pair involving a delta doc


def test_winnow_probe_prunes_and_counts(spark, docs, wn_index):
    from tigerbeetle_cdc_nats_spark.queries_corpus import winnow_fingerprints

    delta = docs.where(F.col("doc_id") < 3)
    probe, _ = di.probe_winnow_index(spark, wn_index, delta)
    plan = physical_plan(probe)
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters", 1)[1].split("]")[0]
    # n_shared agrees with a direct fingerprint join
    fp = winnow_fingerprints(docs)
    a = fp.where(F.col("doc_id") < 3).alias("a")
    b = fp.alias("b")
    expect = {(r["doc_id"], r["other_id"]): r["n"]
              for r in a.join(b, (F.col("a.wm") == F.col("b.wm"))
                              & (F.col("a.doc_id") != F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_id"),
                       F.col("b.doc_id").alias("other_id"))
              .agg(F.count("*").alias("n")).collect()}
    got = {(r["doc_id"], r["other_id"]): r["n_shared"]
           for r in probe.collect()}
    assert got == expect


def test_stored_index_dir_is_per_user_and_private():
    """The persisted-index cache root must be uid-scoped and 0700: a
    world-shared predictable path would let another local user pre-plant
    a poisoned index that the _SUCCESS check then trusts."""
    import os
    import stat

    from tigerbeetle_cdc_nats_spark.queries_dedup import stored_index_dir

    p = stored_index_dir("minhash", "/root/testdata/sf0.001")
    root = os.path.dirname(p)
    assert root.endswith(f"_{os.getuid()}")
    st = os.stat(root)
    assert st.st_uid == os.getuid()
    assert stat.S_IMODE(st.st_mode) & 0o077 == 0  # no group/other access
    # stable across calls (cache key still fingerprints the source table)
    assert stored_index_dir("minhash", "/root/testdata/sf0.001") == p


def test_corpus_pairs_fall_back_when_cache_untrusted(spark, docs,
                                                     monkeypatch):
    """A raising stored_index_dir (unwritable or foreign-owned cache)
    must degrade every index-served consumer to the in-session path with
    IDENTICAL candidates — poisoning/permission failures can cost a
    recompute, never rows."""
    from tigerbeetle_cdc_nats_spark import queries_dedup as qd

    def boom(kind, sf_dir, table="documents"):
        # the production ownership-check refusal (stored_index_dir);
        # round-12 narrowed fallbacks recognize exactly this message —
        # arbitrary RuntimeErrors now propagate as index bugs
        raise RuntimeError("index cache is owned by uid 0, not 1; "
                           "refusing to trust or write it")

    monkeypatch.setattr(qd, "stored_index_dir", boom)
    got = _pairs(qd.corpus_minhash_pairs(spark, SF_DIR))
    want = _pairs(dd.minhash_candidate_pairs(dd.minhash_signatures(docs)))
    assert got == want and len(got) > 0

    probe = qd.corpus_minhash_probe(spark, SF_DIR)
    fresh = dd.minhash_incremental_pairs(
        dd.minhash_signatures(docs), (F.col("doc_id") % 5) == 4)
    assert (sorted(map(tuple, probe.select(
        "doc_id", "other_id", "est_jaccard").collect()))
        == sorted(map(tuple, fresh.select(
            "doc_id", "other_id", "est_jaccard").collect())))
