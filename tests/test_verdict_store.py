"""Stored composed corpus verdict (round-12): the persisted artifact
(sources/verdict_store) maintained from per-batch delta-verdict folds
(streaming/corpus.maintain_corpus_verdict) must stay bit-equal to the
full three-stage recompute (queries_pipeline.corpus_verdict) across the
whole lifecycle — batch build, streaming bootstrap, appends, crash
replay, compaction — and the streaming keeper gate must admit exactly
the composed verdict's keepers."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F, types as T

from tigerbeetle_cdc_nats_spark.operators import similarity as sim
from tigerbeetle_cdc_nats_spark.queries_pipeline import corpus_verdict
from tigerbeetle_cdc_nats_spark.sources import dedup_index as di
from tigerbeetle_cdc_nats_spark.sources import verdict_store as vs
from tigerbeetle_cdc_nats_spark.streaming import corpus as sc

DIM = 8
PLANES8 = sim.hyperplanes(8, DIM)
SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])

VOCAB = ("key agg row scan slow fast table value part hash merge batch "
         "spark line sort window query big small stream").split()


def _batch(spark, lo: int, hi: int):
    """Docs with planted duplicates across all three stages: every 7th
    doc is an EXACT copy of doc_id-1, every 5th a word-edit near-dup of
    doc_id-2 (minhash), and every 11th gets a clustered embedding
    (embedding stage for docs the text stages keep). Word choice is
    per-position pseudo-random (md5) — a simple affine sequence would
    make every doc a rotation of one word cycle and everything a
    minhash dup of doc 0."""
    import hashlib

    rows = []
    for i in range(lo, hi):
        if i % 7 == 0 and i > 0:
            src, tail = i - 1, ""
        elif i % 5 == 0 and i > 0:
            src, tail = i - 2, " edit"
        else:
            src, tail = i, ""
        words = [VOCAB[int(hashlib.md5(f"{src}:{j}".encode())
                           .hexdigest()[:8], 16) % len(VOCAB)]
                 for j in range(40 + src % 13)]
        rows.append((i, " ".join(words) + tail))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    comp = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda d: F.when(F.col("doc_id") % 11 == 0,
                         1.0 + (F.pmod(F.hash(F.col("doc_id") % 2 * 31
                                              + d), F.lit(100))) / 5000.0)
        .otherwise((F.pmod(F.hash(F.col("doc_id") * 67 + d),
                           F.lit(2001)) - 1000) / 1000.0).cast("float"))
    return df.select("doc_id", "text", comp.alias("embedding"))


def _write_sf(spark, sf_dir: str, docs):
    os.makedirs(sf_dir, exist_ok=True)
    (docs.select("doc_id", "text").coalesce(2)
     .write.mode("overwrite")
     .parquet(os.path.join(sf_dir, "documents.parquet")))
    (docs.select(F.col("doc_id").alias("vec_id"), "embedding")
     .coalesce(2).write.mode("overwrite")
     .parquet(os.path.join(sf_dir, "embeddings.parquet")))


def _rows(df):
    return sorted(map(tuple, df.select("doc_id", "rep_id", "is_kept",
                                       "stage").collect()))


def _wait(pred, deadline):
    while time.time() < deadline and not pred():
        time.sleep(0.5)
    assert pred(), "wait_for timeout"


def test_streaming_fold_equals_full_recompute(spark, tmp_path):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    mh = str(tmp_path / "mh")
    ann = str(tmp_path / "ann")
    chk = str(tmp_path / "chk")
    curated = str(tmp_path / "curated")
    sf = str(tmp_path / "sf")
    os.makedirs(src)

    def run(compact_every=None):
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return sc.maintain_corpus_verdict(
            stream, store, minhash_path=mh, checkpoint_dir=chk,
            ann_path=ann, planes=PLANES8, dim=DIM,
            embedding_col="embedding", keepers_path=curated,
            trigger_seconds=0.2, compact_every=compact_every)

    def stored_ids():
        try:
            return {r["doc_id"] for r in
                    vs.read_corpus_verdict(spark, store)
                    .select("doc_id").collect()}
        except Exception:
            return set()

    # ---- phase 1: bootstrap + append (monotonic id batches) ----
    _batch(spark, 0, 60).coalesce(1).write.mode("append").parquet(src)
    _batch(spark, 60, 100).coalesce(1).write.mode("append").parquet(src)
    q = run()
    try:
        _wait(lambda: stored_ids() == set(range(100)), time.time() + 180)
    finally:
        q.stop()
        q.awaitTermination(60)

    _write_sf(spark, sf, _batch(spark, 0, 100))
    want = _rows(corpus_verdict(spark, sf))
    assert sorted(r[3] for r in want).count("exact") > 0
    assert any(r[3] == "minhash" for r in want)
    assert any(r[3] == "embedding" for r in want)
    assert _rows(vs.read_corpus_verdict(spark, store)) == want

    # the streaming gate admitted exactly the composed keepers
    kept = {r["doc_id"]
            for r in spark.read.parquet(curated).select("doc_id")
            .distinct().collect()}
    want_kept = {r[0] for r in want if r[2] == 1}
    assert kept == want_kept, (sorted(kept - want_kept),
                               sorted(want_kept - kept))

    # ---- phase 2: crash replay while the stream is DOWN — re-run the
    # last batch's fold exactly as foreachBatch would (indexes already
    # hold the batch; the fold must recompute bit-identical rows) ----
    b2 = _batch(spark, 60, 100)
    di.append_minhash_index(b2.select("doc_id", "text"), mh)
    verdict, hashes = sc.fold_batch_verdict(
        spark, b2.select("doc_id", "text"), store, mh, ann_path=ann,
        dim=DIM, batch_vecs=b2.select(F.col("doc_id").alias("vec_id"),
                                      "embedding"))
    vs.append_verdict_store(verdict, hashes, store)
    raw = spark.read.parquet(
        os.path.join(os.path.join(store), "verdict"))
    assert raw.count() > 100  # duplicates visible pre-compaction
    assert _rows(vs.read_corpus_verdict(spark, store)) == want

    vs.compact_verdict_store(spark, store)
    snap = __import__(
        "tigerbeetle_cdc_nats_spark.sources.index_versioning",
        fromlist=["current_dir"]).current_dir(store)
    assert spark.read.parquet(
        os.path.join(snap, "verdict")).count() == 100
    assert _rows(vs.read_corpus_verdict(spark, store)) == want

    # ---- phase 3: restart + more ingest, periodic compaction ----
    _batch(spark, 100, 130).coalesce(1).write.mode("append").parquet(src)
    q = run(compact_every=1)
    try:
        _wait(lambda: stored_ids() == set(range(130)), time.time() + 180)
    finally:
        q.stop()
        q.awaitTermination(60)
    _write_sf(spark, sf, _batch(spark, 0, 130))
    want3 = _rows(corpus_verdict(spark, sf))
    assert _rows(vs.read_corpus_verdict(spark, store)) == want3


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
