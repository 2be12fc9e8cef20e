"""Product-quantization operator properties (operators/similarity.py PQ
section): codebook shape/determinism, code-range invariants, and ADC
ranking quality vs the exact baseline.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.reference_forms import pq_encode_expr
from tigerbeetle_cdc_nats_spark.operators import similarity as sim
from tigerbeetle_cdc_nats_spark.session import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def test_codebook_is_deterministic_and_ordered(spark, emb):
    rows = sim.pq_codebook(emb).collect()
    assert len(rows) == 1
    cb = rows[0]["cb"]
    assert [e["j"] for e in cb] == list(range(1, sim.PQ_K + 1))
    dim = sim.embedding_dim(SF_DIR)
    assert all(len(e["cw"]) == dim for e in cb)
    # Deterministic: a second build yields identical codewords.
    cb2 = sim.pq_codebook(emb).collect()[0]["cb"]
    assert [list(e["cw"]) for e in cb] == [list(e["cw"]) for e in cb2]


def test_codes_shape_and_range(spark, emb):
    dim = sim.embedding_dim(SF_DIR)
    cb = sim.pq_codebook(emb)
    codes = sim.pq_encode(emb, cb, dim)
    stats = codes.select(
        F.size("codes").alias("m"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
    ).agg(F.min("m"), F.max("m"), F.min("lo"), F.max("hi")).collect()[0]
    assert stats[0] == stats[1] == sim.PQ_SUBS
    assert stats[2] >= 1 and stats[3] <= sim.PQ_K


def test_seed_vectors_encode_to_themselves(spark, emb):
    """A codeword's own source vector is at L2 distance 0 from itself in
    every sub-space, so seeds must encode to their own code index."""
    dim = sim.embedding_dim(SF_DIR)
    cb = sim.pq_codebook(emb)
    codes = sim.pq_encode(emb, cb, dim)
    cbl = cb.collect()[0]["cb"]
    qv = {tuple(e["cw"]): e["j"] for e in cbl}
    quant = emb.select("vec_id",
                       sim.quantized_vec("embedding").alias("qv")).collect()
    seed_ids = {r["vec_id"]: qv[tuple(r["qv"])]
                for r in quant if tuple(r["qv"]) in qv}
    got = {r["vec_id"]: r["codes"]
           for r in codes.where(
               F.col("vec_id").isin(list(seed_ids))).collect()}
    for vid, j in seed_ids.items():
        assert all(c == j for c in got[vid]), (vid, j, got[vid])


def test_adc_recall_vs_exact(spark, emb):
    """ADC top-10 should substantially overlap the exact cosine top-10 —
    the quantizer is lossy but not random."""
    dim = sim.embedding_dim(SF_DIR)
    cb = sim.pq_codebook(emb)
    codes = sim.pq_encode(emb, cb, dim)
    qids = (0, 1, 2, 3, 4)
    qs = emb.where(F.col("vec_id").isin(list(qids))).select(
        F.col("vec_id").alias("q_id"),
        sim.quantized_vec("embedding").alias("qq"))
    adc = sim.pq_adc_scores(codes, cb, qs, dim, k=10)
    exact = sim.knn_bruteforce(emb, qids, k=10, dim=dim)
    hits = (adc.select("q_id", "c_id")
            .join(exact.select("q_id", "c_id"), ["q_id", "c_id"]).count())
    assert hits >= 15, f"ADC/exact top-10 overlap too low: {hits}/50"


def test_arrow_encode_matches_expression_encode(spark, emb):
    dim = sim.embedding_dim(SF_DIR)
    cb = sim.pq_codebook(emb)
    fast = {r["vec_id"]: list(r["codes"])
            for r in sim.pq_encode(emb, cb, dim).collect()}
    ref = {r["vec_id"]: list(r["codes"])
           for r in pq_encode_expr(emb, cb, dim).collect()}
    assert fast == ref
