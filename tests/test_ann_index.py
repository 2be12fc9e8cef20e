"""Persisted ANN index layout (sources/ann_index.py): bucket partitioning,
file-level pruning for single- and multi-probe fetches, and agreement with
the in-session bucketing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.operators import similarity as sim
from tigerbeetle_cdc_nats_spark.plans.inspect import physical_plan
from tigerbeetle_cdc_nats_spark.session import load_table
from tigerbeetle_cdc_nats_spark.sources.ann_index import (
    read_ann_index,
    write_ann_index,
)

SF_DIR = "/root/testdata/sf0.001"
PLANES = sim.hyperplanes(4, sim.embedding_dim(SF_DIR))


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("annidx") / "index")
    emb = load_table(spark, SF_DIR, "embeddings")
    write_ann_index(emb, path, PLANES, dim=sim.embedding_dim(SF_DIR))
    return path


def _files_read(df) -> int:
    return df.select(F.input_file_name().alias("f")).distinct().count()


def test_roundtrip_and_bucket_agreement(spark, index):
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = read_ann_index(spark, index)
    assert idx.count() == emb.count()
    # Stored partition value == in-session bucket expression, per vector.
    live = emb.select(
        "vec_id",
        sim.bucket_col(PLANES, "embedding",
                       sim.embedding_dim(SF_DIR)).alias("b"))
    joined = idx.select("vec_id", "bucket").join(live, "vec_id")
    assert joined.where(F.col("bucket") != F.col("b")).count() == 0


def test_single_probe_prunes_files(spark, index):
    idx = read_ann_index(spark, index)
    some_bucket = idx.select("bucket").first()["bucket"]
    probe = idx.where(F.col("bucket").isin([some_bucket]))
    plan = physical_plan(probe)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].split("]")[0]
    assert 0 < _files_read(probe) < _files_read(idx)


def test_multi_probe_reads_only_probe_set(spark, index):
    idx = read_ann_index(spark, index)
    base = int(idx.select("bucket").first()["bucket"])
    probes = [base] + [base ^ (1 << j) for j in range(len(PLANES))]
    probe = idx.where(F.col("bucket").isin(probes))
    got_buckets = {r["bucket"]
                   for r in probe.select("bucket").distinct().collect()}
    assert got_buckets <= set(probes)
    assert _files_read(probe) <= len(probes) * 2  # a few files per bucket


def test_stored_ivf_equals_in_session(spark, tmp_path, monkeypatch):
    """ivf_ann_indexed must return row-identical results to
    ivf_ann_cosine — the stored assignment and the session assignment
    are the same Arrow argmax over the same integer-e6 centroids."""
    from tigerbeetle_cdc_nats_spark.registry import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    fresh = sorted(map(tuple, qs["ivf_ann_cosine"].fn(spark, sf).collect()))
    stored = sorted(map(tuple, qs["ivf_ann_indexed"].fn(spark, sf).collect()))
    assert stored == fresh
