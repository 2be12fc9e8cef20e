"""IVF coarse-quantization semantics (queries_similarity.py): the
assignment step must actually run — not just reuse the label column."""

from __future__ import annotations

from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.queries_similarity import (
    centroid_vectors,
    ivf_assign,
)
from tigerbeetle_cdc_nats_spark.session import load_table


def test_ivf_assignment_is_not_the_label_column(spark, sf_dir):
    """Some vectors MUST land in a cell other than their label — if the
    assignment always equals the label, the argmax never ran and 'IVF' is
    just label-partitioned search."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, centroid_vectors(emb))
    moved = (
        assigned.join(emb.select("vec_id", "label"), "vec_id")
        .where(F.col("cell") != F.col("label"))
        .count()
    )
    assert moved > 0


def test_ivf_assignment_is_total_and_unique(spark, sf_dir):
    """Coarse quantization is a function: every vector gets exactly one
    cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, centroid_vectors(emb))
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n


def test_ivf_plan_has_no_unbroadcast_cartesian(spark, sf_dir):
    """The N x k scoring must be a BroadcastNestedLoopJoin against the tiny
    centroid side — never a CartesianProduct of two shuffled sides."""
    from tigerbeetle_cdc_nats_spark import registry
    from tigerbeetle_cdc_nats_spark.plans import physical_plan

    df = registry.all_queries()["ivf_ann_cosine"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_ivf_assign_arrow_equals_expr(spark):
    """Map-side Arrow IVF assignment is bit-identical to the pure-Column
    window-argmax reference (cell AND the reused norm)."""
    from tests.reference_forms import ivf_assign_expr
    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        centroid_vectors,
        ivf_assign,
    )
    from tigerbeetle_cdc_nats_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    centv = centroid_vectors(emb).persist()
    a = sorted(map(tuple, ivf_assign(emb, centv, dim=64)
                   .select("vec_id", "cell", "norm").collect()))
    b = sorted(map(tuple, ivf_assign_expr(emb, centv, dim=64)
                   .select("vec_id", "cell", "norm").collect()))
    assert a == b and len(a) == emb.count()
    centv.unpersist()


def test_ivf_assign_plan_has_no_shuffle(spark):
    """The production assignment is one Arrow map over the scan: no
    Exchange, no Window in its plan (the round-5 fix — the expr form
    shuffles k copies of the corpus for row_number)."""
    from tigerbeetle_cdc_nats_spark.plans.inspect import physical_plan
    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        centroid_vectors,
        ivf_assign,
    )
    from tigerbeetle_cdc_nats_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plan = physical_plan(ivf_assign(emb, centroid_vectors(emb), dim=64))
    assert "Window" not in plan
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_ivf_assign_degenerate_vectors_agree(spark):
    """Zero-norm embeddings and zero-norm centroids have undefined cosine;
    both assignment paths must apply the SAME rule (invalid sims excluded,
    no-valid-sim rows -> smallest cell) instead of NaN/int64-min garbage
    in the Arrow path diverging from NULL handling in the expr path."""
    from pyspark.sql import types as T

    from tests.reference_forms import ivf_assign_expr
    from tigerbeetle_cdc_nats_spark.queries_similarity import ivf_assign

    emb_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),   # zero-norm vector
            (3, [0.5, 0.5, 0.0, 0.0]),
            (4, [-1.0, 0.0, 0.0, 0.0]),
        ],
        emb_schema,
    )
    centv_schema = T.StructType([
        T.StructField("cell", T.IntegerType()),
        T.StructField("c_arr", T.ArrayType(T.LongType())),
    ])
    centv = spark.createDataFrame(
        [
            (3, [1_000_000, 0, 0, 0]),
            (7, [0, 1_000_000, 0, 0]),
            (9, [0, 0, 0, 0]),           # zero-norm centroid
        ],
        centv_schema,
    )
    a = sorted(map(tuple, ivf_assign(emb, centv, dim=4)
                   .select("vec_id", "cell", "norm").collect()))
    b = sorted(map(tuple, ivf_assign_expr(emb, centv, dim=4)
                   .select("vec_id", "cell", "norm").collect()))
    assert a == b and len(a) == 5
    by_id = dict((r[0], r[1]) for r in a)
    assert by_id[2] == 3    # zero-norm vector -> smallest cell, not garbage
    assert by_id[0] == 3 and by_id[1] == 7
    assert all(r[1] != 9 for r in a)  # zero-norm centroid never wins


def _pinned_pairs(spark, sf_dir):
    """The original pinned 8-plane near-dup — now a TEST FIXTURE
    (near_dup_pairs_pinned), the bit-equality baseline every scale-safe
    registered variant must reproduce at driver SFs."""
    from tests.reference_forms import near_dup_pairs_pinned
    from tigerbeetle_cdc_nats_spark.operators import similarity as sim
    from tigerbeetle_cdc_nats_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = sim.embedding_dim(sf_dir)
    return sorted(map(tuple, near_dup_pairs_pinned(
        emb, sim.hyperplanes(8, dim), dim).collect()))


def test_registered_near_dups_match_pinned_below_widening_point(spark,
                                                                sf_dir):
    """Clamp floor == the pinned 8-plane geometry: below 16,384 vectors
    (every driver SF) the registered unsuffixed query (now the skew-safe
    production form), its adaptive twin, and the skew-safe form must all
    return byte-identical pairs to the pinned fixture — the property
    that lets every scale-safe variant keep the static oracle."""
    from tigerbeetle_cdc_nats_spark import registry

    qs = registry.all_queries()
    pinned = _pinned_pairs(spark, sf_dir)
    assert len(pinned) >= 1
    for name in ("embedding_near_dup", "embedding_near_dup_adaptive",
                 "embedding_near_dup_skewsafe"):
        got = sorted(map(tuple, qs[name].fn(spark, sf_dir).collect()))
        assert got == pinned, name


def test_adaptive_multitable_matches_pinned_below_widening_point(spark,
                                                                 sf_dir):
    """Same clamp-floor property for the two-table variant: below 16,384
    vectors the adaptive tables ARE _MT_TABLES, so both registered
    multitable queries match the pinned-fixture form bit-for-bit."""
    from tigerbeetle_cdc_nats_spark import registry
    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        _MT_TABLES, multitable_pairs)
    from tigerbeetle_cdc_nats_spark.operators import similarity as sim
    from tigerbeetle_cdc_nats_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = sim.embedding_dim(sf_dir)
    pinned = sorted(map(tuple, multitable_pairs(
        emb, dim, _MT_TABLES).collect()))
    assert len(pinned) >= 1
    qs = registry.all_queries()
    for name in ("embedding_near_dup_multitable",
                 "embedding_near_dup_multitable_adaptive"):
        got = sorted(map(tuple, qs[name].fn(spark, sf_dir).collect()))
        assert got == pinned, name


def test_skewsafe_near_dup_splits_hot_bucket(spark):
    """A tight cluster larger than HOT_CAP must be split by the residual
    tables (candidate volume far below the unsplit quadratic) while a
    planted near-identical pair inside the cluster is still found."""
    import numpy as np

    from pyspark.sql import functions as F, types as T

    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        HOT_CAP, near_dup_pairs_skewsafe)
    from tigerbeetle_cdc_nats_spark.operators import similarity as sim

    dim, n = 16, 400  # one cluster of 400 > HOT_CAP=256 in a tiny dim
    def h(i, j):
        x = ((i * 131 + j + 1) * 0x9E3779B97F4A7C15) % (1 << 64)
        x ^= x >> 31
        return ((x % 2001) - 1000) / 1000.0

    center = np.array([h(999983, d) for d in range(dim)])
    rows = []
    for i in range(n):
        v = center + np.array([h(i, d) for d in range(dim)]) * 0.05
        rows.append((i, [float(x) for x in v]))
    # planted near-identical pair inside the hot cluster
    v399 = list(rows[398][1])
    v399[0] += 0.01
    rows[399] = (399, v399)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    emb = spark.createDataFrame(rows, schema)

    out = near_dup_pairs_skewsafe(emb, dim, n_planes=8)
    got = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert (398, 399) in got, "planted pair lost by the residual split"
    # the whole cluster shares one primary bucket; unsplit pair volume
    # would be 400*399/2 = 79,800 — the split must cut it hard
    planes = sim.hyperplanes(8, dim)
    b = sim.lsh_buckets(emb, planes, dim=dim)
    top = b.groupBy("bucket").count().agg(F.max("count")).first()[0]
    assert top > HOT_CAP, "fixture must actually produce a hot bucket"
    # candidate volume proxy: pairs surviving the sim filter are a
    # subset; assert the split key fans the cluster out
    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        bucket_centroids)
    pop = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("_pop"))
    hot = (b.join(F.broadcast(pop.where(F.col("_pop") > HOT_CAP)), "bucket")
           .select("bucket", "vec_id", "embedding"))
    n_cent = bucket_centroids(hot).count()
    assert n_cent >= 1


def test_adaptive_near_dup_widens_past_clamp_floor():
    """planes_for_corpus at target 64 leaves the 8-plane floor exactly
    past 2^8 * 64 vectors — the corpus size where the pinned geometry
    would start going quadratic and the adaptive knob must widen."""
    from tigerbeetle_cdc_nats_spark.operators.similarity import (
        planes_for_corpus)

    assert planes_for_corpus(16_384, target_bucket=64) == 8
    assert planes_for_corpus(16_385, target_bucket=64) == 9
    assert planes_for_corpus(32_000, target_bucket=64) == 9
    assert planes_for_corpus(128_000, target_bucket=64) == 11
    assert planes_for_corpus(10_000_000, target_bucket=64) == 18


def test_skewsafe_residual_width_scales_with_hot_bucket(spark):
    """Past 4096 members in one bucket the residual tables must WIDEN
    (planes_for_corpus at target population 64) instead of letting
    sub-bucket population grow linearly with cluster size — and the
    planted near-identical pair must still be found through the wider
    two-table union."""
    import numpy as np

    from pyspark.sql import types as T

    from tigerbeetle_cdc_nats_spark.operators import similarity as sim
    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        near_dup_pairs_skewsafe)

    dim, n = 16, 4500  # one cluster > 4096 -> sec widens 6 -> 7
    assert sim.planes_for_corpus(n, target_bucket=64) == 7

    def h(i, j):
        x = ((i * 131 + j + 1) * 0x9E3779B97F4A7C15) % (1 << 64)
        x ^= x >> 31
        return ((x % 2001) - 1000) / 1000.0

    center = np.array([h(424243, d) for d in range(dim)])
    rows = []
    for i in range(n):
        v = center + np.array([h(i, d) for d in range(dim)]) * 0.05
        rows.append((i, [float(x) for x in v]))
    v_last = list(rows[n - 2][1])
    v_last[0] += 0.01
    rows[n - 1] = (n - 1, v_last)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    emb = spark.createDataFrame(rows, schema)

    out = near_dup_pairs_skewsafe(emb, dim, n_planes=8)
    got = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert (n - 2, n - 1) in got, "planted pair lost by the wider split"


def test_skewsafe_recurses_two_cluster_bucket(spark):
    """A bucket holding TWO tight clusters defeats one residual level
    (the bucket centroid is their midpoint, so each cluster shares every
    residual plane sign and lands wholesale in one sub-bucket — the c64
    clustered-soak failure). The recursive re-split must cut candidate
    volume far below the one-level quadratic while keeping planted
    near-identical pairs in BOTH clusters."""
    import numpy as np

    from pyspark.sql import functions as F, types as T

    from tigerbeetle_cdc_nats_spark.operators import similarity as sim
    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        near_dup_pairs_skewsafe)

    dim = 16

    def h(i, j):
        x = ((i * 131 + j + 1) * 0x9E3779B97F4A7C15) % (1 << 64)
        x ^= x >> 31
        return ((x % 2001) - 1000) / 1000.0

    # two cluster centers engineered to share every 8-plane sign:
    # center B = 2 * center A (same direction, different radius)
    center_a = np.array([h(777779, d) for d in range(dim)])
    rows = []
    for i in range(400):
        c = center_a if i < 200 else 2.0 * center_a
        v = c + np.array([h(i, d) for d in range(dim)]) * 0.02
        rows.append((i, [float(x) for x in v]))
    # planted near-identical pairs, one per cluster
    for anchor in (198, 398):
        v = list(rows[anchor][1])
        v[0] += 0.005
        rows[anchor + 1] = (anchor + 1, v)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    emb = spark.createDataFrame(rows, schema)

    # both clusters must actually share ONE primary bucket
    planes = sim.hyperplanes(8, dim)
    b = sim.lsh_buckets(emb, planes, dim=dim)
    top = b.groupBy("bucket").count().agg(F.max("count")).first()[0]
    # boundary noise may strand a few members; the bulk of both clusters
    # must share ONE primary bucket for the fixture to bite
    assert top >= 380, f"fixture must put both clusters in one bucket: {top}"

    out = near_dup_pairs_skewsafe(emb, dim, n_planes=8, cap=64)
    got = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert (198, 199) in got, "planted pair lost in cluster A"
    assert (398, 399) in got, "planted pair lost in cluster B"
    # one-level split leaves each 200-member cluster whole in one sub
    # (~2 * C(200,2) = 39,800 within-sub pairs); recursion must re-split
    # so candidate volume collapses. Pairs out are a cost proxy: all
    # within-cluster cosines clear 0.3 here, so fewer pairs == fewer
    # candidates scored.
    assert len(got) < 15_000, f"recursion did not re-split: {len(got)}"
