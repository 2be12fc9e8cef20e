"""LSH geometry scaling knobs (VERDICT round 1, "What's wrong" #5/#7):
fixed band/bucket counts turn bucketed search quadratic as the corpus
grows. These tests pin the scaling behavior of the exposed knobs."""

from __future__ import annotations

from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.operators import dedup as dd
from tigerbeetle_cdc_nats_spark.operators import similarity as sim
from tigerbeetle_cdc_nats_spark.session import load_table


def test_wider_bands_shrink_candidate_volume(spark):
    """On the real corpus, r=4 banding must pass strictly fewer candidate
    pairs than r=2 at the same k — the false-candidate knob actually
    works. (Collision prob per band is j^r: monotonically decreasing in
    r for j < 1.)"""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sigs = dd.minhash_signatures(docs, k=16)
    narrow = dd.minhash_candidate_pairs(sigs, bands=8, k=16).count()  # r=2
    spark.catalog.clearCache()
    wide = dd.minhash_candidate_pairs(sigs, bands=4, k=16).count()    # r=4
    spark.catalog.clearCache()
    assert wide < narrow
    # true near-duplicates (est_jaccard = 1.0 under both geometries: every
    # band of an identical signature collides) survive the wider bands
    exact = dd.minhash_candidate_pairs(sigs, bands=4, k=16).where(
        F.col("est_jaccard") >= 0.999).count()
    spark.catalog.clearCache()
    assert exact > 0


def test_planes_scale_with_corpus():
    """Plane count must track log2(corpus/target) between its clamps —
    bucket population stays ~target instead of growing linearly."""
    p1 = sim.planes_for_corpus(10_000)
    p2 = sim.planes_for_corpus(10_000_000)
    p3 = sim.planes_for_corpus(10_000_000_000)
    assert p1 < p2 < p3 <= 30
    assert sim.planes_for_corpus(1) == 4  # clamp floor
    # expected bucket population ~ n / 2^planes stays near target
    for n in (10_000_000, 10_000_000_000):
        planes = sim.planes_for_corpus(n, target_bucket=256)
        assert n / (2 ** planes) <= 2 * 256


def test_more_planes_shrink_buckets(spark):
    """More hyperplanes -> strictly smaller max bucket on real embeddings
    (the within-bucket compare cost is sum(bucket^2))."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    def max_bucket(n_planes: int) -> int:
        b = sim.lsh_buckets(emb, sim.hyperplanes(n_planes=n_planes, dim=64))
        return b.groupBy("bucket").count().agg(F.max("count")).first()[0]
    assert max_bucket(10) < max_bucket(4)
