"""The session memo primitive (session.memo / dataset_identity): values
are served while the data identity holds, and rebuilt — stale storage
released — when the data moves, with no caller-side invalidation."""

from __future__ import annotations

import os

from tigerbeetle_cdc_nats_spark import queries_dedup as qd
from tigerbeetle_cdc_nats_spark import queries_similarity as qs
from tigerbeetle_cdc_nats_spark.operators import similarity as sim
from tigerbeetle_cdc_nats_spark.session import (
    dataset_identity,
    memo,
    memo_record,
    memo_scope,
)
from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

GOOD = "alpha beta gamma delta epsilon zeta eta theta"


def _live_persisted(spark) -> int:
    """Persisted RDDs still referenced. SparkContext holds persisted RDDs
    by weak reference, so a JVM garbage collection drops those of earlier
    tests that nothing references any more; collect first, so the count
    does not depend on when the collector last ran."""
    spark._jvm.System.gc()
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _n_materialized(spark) -> int:
    # materialized cache blocks registered with the block manager
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_memo_invalidates_and_unpersists_on_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    scope = memo_scope(spark)

    def get():
        def build():
            df = spark.read.parquet(p).persist()
            df.count()
            return df
        return memo(scope, "test_memo", p, dataset_identity(p), build)

    d1 = get()
    after_first = _n_materialized(spark)
    assert d1.is_cached
    assert get() is d1  # hit: the same object
    assert memo_record(scope, "test_memo")[0::2] == (1, 1)

    spark.range(25).coalesce(1).write.mode("overwrite").parquet(p)
    d2 = get()
    assert d2 is not d1
    # the rewrite is served, never the superseded cache (unpersisted
    # BEFORE the rebuild), and the old blocks were released
    assert d2.count() == 25
    assert not d1.is_cached and _n_materialized(spark) <= after_first
    builds, build_s, hits = memo_record(scope, "test_memo")
    assert (builds, hits) == (2, 1) and build_s > 0


def test_identity_sees_nested_appends_and_marker(tmp_path):
    d = tmp_path / "idx"
    (d / "band=0").mkdir(parents=True)
    (d / "band=0" / "a.parquet").write_bytes(b"x")
    marker = str(d / "_meta.json")
    assert dataset_identity(str(d), marker) is None  # no marker yet
    (d / "_meta.json").write_text("{}")
    before = dataset_identity(str(d), marker)
    assert before == dataset_identity(str(d), marker)
    (d / "band=0" / "b.parquet").write_bytes(b"y")
    assert dataset_identity(str(d), marker) != before
    assert dataset_identity(str(tmp_path / "missing")) is None


def _write_embeddings(path, n, dim):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(path, "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([[float(i % 5 - 2)] * dim for i in range(n)],
                              pa.list_(pa.float32())),
    }), p)
    os.utime(p, ns=(dim, dim))  # distinct mtime per width


def test_dim_and_planes_follow_an_embeddings_rewrite(tmp_path):
    sf = str(tmp_path)
    _write_embeddings(sf, 8, 16)
    assert sim.embedding_dim(sf) == qs._dim(sf) == 16
    assert len(qs._planes(sf)[0]) == 16
    _write_embeddings(sf, 8, 24)  # same sf_dir, new width
    assert sim.embedding_dim(sf) == qs._dim(sf) == 24
    assert len(qs._planes(sf)[0]) == 24


def _clusters(comp) -> dict[int, int]:
    return {r["node"]: r["cluster_id"] for r in comp.collect()}


def test_dup_components_follow_an_index_rebuild(spark, tmp_path):
    sfd = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, GOOD), (2, GOOD + " iota"),
         (5, "totally different words entirely distinct here")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(os.path.join(sfd, "documents.parquet"))

    c1 = qd._dup_components(spark, sfd)
    assert qd._dup_components(spark, sfd) is c1  # memo hit
    assert 3 not in _clusters(c1)

    # an overwrite rebuild of the stored index, here with one more doc
    idx = qd.stored_index_dir("minhash", sfd)
    grown = spark.createDataFrame(
        [(1, GOOD), (2, GOOD + " iota"), (3, GOOD),
         (5, "totally different words entirely distinct here")],
        "doc_id long, text string")
    di.write_minhash_index(grown, idx)
    c2 = qd._dup_components(spark, sfd)
    assert c2 is not c1
    got = _clusters(c2)
    assert got[3] == got[1]  # the added exact dup joins doc 1's cluster

    # a same-content rebuild still moves the index identity
    di.write_minhash_index(grown, idx)
    c3 = qd._dup_components(spark, sfd)
    assert c3 is not c2
    assert _clusters(c3) == got


def _write_documents(path, docs, stamp):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(path, "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string()),
    }), p)
    os.utime(p, ns=(stamp, stamp))  # distinct mtime per rewrite


def _write_labelled_embeddings(path, n, labels, stamp):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(path, "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(
            [[float((i * 7 + j) % 5 - 2) for j in range(16)]
             for i in range(n)], pa.list_(pa.float32())),
        "label": pa.array([i % labels for i in range(n)], pa.int32()),
    }), p)
    os.utime(p, ns=(stamp, stamp))


def _frames(value):
    return value if isinstance(value, tuple) else (value,)


def _follows_rewrite(spark, get, rewrite):
    """The memo_invalidates template for a registered memo: a hit is the
    same object; after ``rewrite()`` the next get is a new value and the
    old one's blocks were released. Returns the new value."""
    v1 = get()
    for df in _frames(v1):
        df.count()  # materialize lazily persisted frames
    after_first = _n_materialized(spark)
    assert get() is v1
    rewrite()
    v2 = get()
    assert v2 is not v1
    for df in _frames(v2):
        df.count()
    assert not any(df.is_cached for df in _frames(v1))
    assert _n_materialized(spark) <= after_first
    return v2


OTHER = "totally different words entirely distinct here"


def test_shingle_sets_follow_a_documents_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    _write_documents(sf, [(1, GOOD), (2, OTHER)], 1)
    sets = _follows_rewrite(
        spark, lambda: qd.corpus_shingle_sets(spark, sf),
        lambda: _write_documents(sf, [(1, GOOD), (2, OTHER), (3, GOOD)], 2))
    assert sorted(r["doc_id"] for r in sets.collect()) == [1, 2, 3]


def test_minhash_probe_follows_a_documents_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    # the probed delta is doc_id % 5 == 4
    _write_documents(sf, [(1, GOOD), (4, GOOD), (7, OTHER)], 1)
    assert {r["doc_id"] for r in
            qd.corpus_minhash_probe(spark, sf).collect()} == {4}
    probe = _follows_rewrite(
        spark, lambda: qd.corpus_minhash_probe(spark, sf),
        lambda: _write_documents(
            sf, [(1, GOOD), (4, GOOD), (7, OTHER), (9, GOOD)], 2))
    assert {r["doc_id"] for r in probe.collect()} == {4, 9}


def test_minhash_probe_releases_its_delta_on_identity_change(
        spark, tmp_path, monkeypatch):
    """The probe memo holds the persisted delta next to the pairs, so an
    identity change releases both. The rebuilt index here has 2 shards
    instead of 1 (a corpus grown past a shard boundary), so the new
    delta's plan differs and no same-plan unpersist can catch the old
    one."""
    sf = str(tmp_path)
    _write_documents(sf, [(1, GOOD), (4, GOOD), (7, OTHER)], 1)
    qd.corpus_minhash_probe(spark, sf).collect()
    held = _live_persisted(spark)
    monkeypatch.setattr(di, "shards_for_corpus", lambda n: 2)
    _write_documents(sf, [(1, GOOD), (4, GOOD), (7, OTHER), (9, GOOD)], 2)
    assert {r["doc_id"] for r in
            qd.corpus_minhash_probe(spark, sf).collect()} == {4, 9}
    assert _live_persisted(spark) == held


def test_winnow_probe_releases_its_delta_on_identity_change(
        spark, tmp_path, monkeypatch):
    """The winnow probe's memo value holds its persisted delta
    fingerprints next to the counts, so an identity change releases
    both; as in the MinHash case, the rebuilt index has 2 shards, so no
    same-plan unpersist can catch the old delta."""
    from tigerbeetle_cdc_nats_spark.queries_corpus import (
        q_winnow_probe_indexed,
    )

    sf = str(tmp_path)
    _write_documents(sf, [(1, GOOD), (4, GOOD), (7, OTHER)], 1)
    assert {r["doc_id"] for r in
            q_winnow_probe_indexed(spark, sf).collect()} == {4}
    held = _live_persisted(spark)
    monkeypatch.setattr(di, "shards_for_corpus", lambda n: 2)
    _write_documents(sf, [(1, GOOD), (4, GOOD), (7, OTHER), (9, GOOD)], 2)
    assert {r["doc_id"] for r in
            q_winnow_probe_indexed(spark, sf).collect()} == {4, 9}
    assert _live_persisted(spark) == held


def test_winnow_probe_follows_a_same_path_rewrite(spark, tmp_path):
    """A probe of a rewritten documents file reads the new delta, not the
    delta fingerprints an earlier probe of the same path persisted."""
    sf = str(tmp_path)

    def probed(docs, stamp) -> set:
        _write_documents(sf, docs, stamp)
        frame = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        index = str(tmp_path / f"winnow{stamp}")
        di.write_winnow_index(frame, index, n_shards=4)
        delta = frame.where(frame["doc_id"] % 5 == 4)
        return {r["doc_id"] for r in
                di.probe_winnow_index(spark, index, delta)[0].collect()}

    assert probed([(1, GOOD), (4, GOOD), (7, OTHER)], 1) == {4}
    assert probed([(1, GOOD), (4, GOOD), (7, OTHER), (9, GOOD)], 2) == {4, 9}
    spark.catalog.clearCache()


def test_ivf_assigned_follows_an_embeddings_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    _write_labelled_embeddings(sf, 12, 2, 1)
    centv, assigned = _follows_rewrite(
        spark, lambda: qs.ivf_assigned(spark, sf),
        lambda: _write_labelled_embeddings(sf, 20, 3, 2))
    assert assigned.count() == 20
    assert sorted(r["cell"] for r in centv.collect()) == [0, 1, 2]


def test_ivf_centroid_rows_follow_an_embeddings_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    _write_labelled_embeddings(sf, 12, 2, 1)
    rows = qs.ivf_centroid_rows(spark, sf)
    assert qs.ivf_centroid_rows(spark, sf) is rows
    old = qs.ivf_assigned(spark, sf)
    _write_labelled_embeddings(sf, 20, 3, 2)
    fresh = qs.ivf_centroid_rows(spark, sf)
    assert sorted(r["cell"] for r in fresh) == [0, 1, 2]
    # the collected rows hold no blocks; the frames they came from were
    # released
    assert not any(df.is_cached for df in old)
