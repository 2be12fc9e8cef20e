"""Streaming corpus-ingestion tests: online dedup must drop re-ingested
content inside the watermark window, the quality gate must agree with the
batch operators, and state must be keyed on content (not doc_id)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F, types as T

from tigerbeetle_cdc_nats_spark.sources import index_versioning as iv
from tigerbeetle_cdc_nats_spark.streaming import corpus as sc

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("ingest_time", T.TimestampType()),
])

BASE = "2024-01-01 00:00:"
GOOD = "alpha beta gamma delta epsilon zeta eta theta"
SHORT = "tiny doc"


def _write_docs(spark, d, rows):
    df = spark.createDataFrame(
        [(i, t, f"{BASE}{s:02d}") for i, t, s in rows],
        ["doc_id", "text", "ts_str"],
    ).select("doc_id", "text",
             F.col("ts_str").cast("timestamp").alias("ingest_time"))
    df.coalesce(1).write.mode("append").parquet(d)


def _run_stream(spark, src, out_dir, chk):
    stream = (spark.readStream.schema(DOC_SCHEMA).parquet(src)
              .transform(sc.ingest_pipeline))
    q = (stream.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def test_streaming_ingest_dedups_and_gates(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    os.makedirs(src)
    # doc 3 re-ingests doc 1's exact content; doc 4 fails the length gate
    _write_docs(spark, src, [
        (1, GOOD, 1),
        (2, GOOD + " extra tokens here", 2),
        (3, GOOD, 3),
        (4, SHORT, 4),
    ])
    _run_stream(spark, src, out, chk)
    got = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]

    # a later micro-batch with one fresh doc and one replayed content:
    # only the fresh one survives (state persisted across batches)
    _write_docs(spark, src, [
        (5, GOOD, 5),
        (6, "totally new content with plenty of distinct tokens", 6),
    ])
    _run_stream(spark, src, out, chk)
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got2 == [1, 2, 6]


def test_ingest_features_match_batch_operators(spark):
    """The streaming gate must reuse the batch quality/fingerprint exprs
    bit-for-bit — one definition, two execution modes."""
    from tigerbeetle_cdc_nats_spark.operators import text as tx

    df = spark.createDataFrame([(1, GOOD)], ["doc_id", "text"])
    feat = sc.with_ingest_features(
        df.withColumn("ingest_time", F.current_timestamp())).first()
    batch = df.select(
        tx.doc_fingerprint("text").alias("fp"),
        tx.quality_score("text")["quality"].alias("quality")).first()
    assert feat["fp"] == batch["fp"]
    assert feat["quality"] == batch["quality"]


def test_batch_mode_fallback_dedups(spark):
    """The same pipeline applied to a BATCH frame dedups too (parity for
    backfills that reuse the streaming code path)."""
    df = spark.createDataFrame(
        [(1, GOOD), (2, GOOD), (3, GOOD + " more")], ["doc_id", "text"]
    ).withColumn("ingest_time",
                 F.lit("2024-01-01 00:00:01").cast("timestamp"))
    out = sc.ingest_pipeline(df)
    fps = [r["fp"] for r in out.collect()]
    assert len(fps) == 2 and len(set(fps)) == 2


def test_pii_gate_scrubs_before_fingerprinting(spark):
    import tigerbeetle_cdc_nats_spark.streaming.corpus as sc2
    from tigerbeetle_cdc_nats_spark.operators import pii, text as tx

    rows = [
        (1, "good words here plus mail a.b@c.org and more text padding"),
        (2, "good words here plus mail x.y@z.net and more text padding"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .withColumn("ingest_time", F.to_timestamp(F.lit("2024-01-01")))
    out = sc2.ingest_pipeline(df).collect()
    # Different emails, identical after redaction -> ONE survivor, and the
    # survivor's text contains the class token, not the address.
    assert len(out) == 1
    assert "[EMAIL]" in out[0]["text"] and "@" not in out[0]["text"]
    assert out[0]["n_redactions"] == 1
    # Fingerprint was computed on the REDACTED text.
    expected_fp = spark.createDataFrame(
        [(out[0]["text"],)], "text string").select(
        tx.doc_fingerprint("text").alias("fp")).collect()[0]["fp"]
    assert out[0]["fp"] == expected_fp


def test_streaming_index_maintenance_matches_rebuild(spark, tmp_path):
    """The stored MinHash index maintained continuously from the doc
    stream must yield candidate pairs BYTE-IDENTICAL to a from-scratch
    rebuild over the same corpus, and at-least-once replay (a re-appended
    batch) must not change any pair."""
    import time

    from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    idx_rebuild = str(tmp_path / "idx_rebuild")
    chk = str(tmp_path / "chk")
    os.makedirs(src)

    batch1 = [(1, GOOD, 1), (2, GOOD + " extra tokens here", 2)]
    batch2 = [(3, GOOD, 3),
              (4, "totally different words entirely distinct phrase", 4)]

    def _index_docs():
        try:
            return {r["doc_id"] for r in
                    spark.read.parquet(iv.current_dir(idx)).select("doc_id")
                    .distinct().collect()}
        except Exception:
            return set()

    _write_docs(spark, src, batch1)
    stream = (spark.readStream.schema(DOC_SCHEMA).parquet(src)
              .select("doc_id", "text"))
    q = sc.maintain_minhash_index(stream, idx, checkpoint_dir=chk,
                                  trigger_seconds=0.2)
    try:
        deadline = time.time() + 120
        while time.time() < deadline and _index_docs() != {1, 2}:
            time.sleep(0.5)
        assert _index_docs() == {1, 2}
        _write_docs(spark, src, batch2)
        while time.time() < deadline and _index_docs() != {1, 2, 3, 4}:
            time.sleep(0.5)
        assert _index_docs() == {1, 2, 3, 4}
    finally:
        q.stop()
        q.awaitTermination(60)

    def pairs_of(path):
        return sorted(
            map(tuple, di.minhash_pairs_from_index(
                di.read_minhash_index(spark, path)).collect()))

    all_docs = spark.createDataFrame(
        [(i, t) for i, t, _s in batch1 + batch2], "doc_id long, text string")
    di.write_minhash_index(all_docs, idx_rebuild)
    streamed = pairs_of(idx)
    assert streamed == pairs_of(idx_rebuild)
    assert any(p[0] == 1 and p[1] == 3 for p in streamed)  # planted dup

    # at-least-once replay: re-appending an already-indexed batch
    # duplicates banded rows but must not change candidate pairs
    di.append_minhash_index(
        spark.createDataFrame([(i, t) for i, t, _s in batch2],
                              "doc_id long, text string"), idx)
    assert pairs_of(idx) == streamed


def test_streaming_ann_index_maintenance(spark, tmp_path):
    """Vector twin of the banded-index stream: appended batches land in
    their bucket partitions under the caller's plane set, and the
    maintained index equals a from-scratch rebuild."""
    import time

    from pyspark.sql import types as T

    from tigerbeetle_cdc_nats_spark.operators import similarity as sim
    from tigerbeetle_cdc_nats_spark.sources import ann_index as ai

    dim = 8
    planes = sim.hyperplanes(n_planes=4, dim=dim)
    src = str(tmp_path / "vsrc")
    idx = str(tmp_path / "vidx")
    idx_rebuild = str(tmp_path / "vidx_rebuild")
    chk = str(tmp_path / "vchk")
    os.makedirs(src)

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])

    def vec(i):
        return [float((i * 7 + j) % 5 - 2) for j in range(dim)]

    def write_batch(ids):
        spark.createDataFrame([(i, vec(i)) for i in ids], schema) \
            .coalesce(1).write.mode("append").parquet(src)

    def indexed_ids():
        try:
            return {r["vec_id"] for r in spark.read.parquet(iv.current_dir(idx))
                    .select("vec_id").distinct().collect()}
        except Exception:
            return set()

    write_batch(range(0, 6))
    stream = spark.readStream.schema(schema).parquet(src)
    q = sc.maintain_ann_index(stream, idx, planes,
                              checkpoint_dir=chk, dim=dim,
                              trigger_seconds=0.2)
    try:
        deadline = time.time() + 120
        while time.time() < deadline and indexed_ids() != set(range(6)):
            time.sleep(0.5)
        write_batch(range(6, 10))
        while time.time() < deadline and indexed_ids() != set(range(10)):
            time.sleep(0.5)
        assert indexed_ids() == set(range(10))
    finally:
        q.stop()
        q.awaitTermination(60)

    ai.write_ann_index(
        spark.createDataFrame([(i, vec(i)) for i in range(10)], schema),
        idx_rebuild, planes, dim=dim)
    got = sorted(map(tuple, spark.read.parquet(iv.current_dir(idx))
                 .select("vec_id", "bucket").collect()))
    want = sorted(map(tuple, spark.read.parquet(idx_rebuild)
                  .select("vec_id", "bucket").collect()))
    assert got == want and len(got) == 10


def test_maintenance_invalidates_session_pairs_memo(spark, tmp_path):
    """A same-session batch consumer must see candidate pairs for docs the
    STREAMING maintenance appended after the consumer first memoized the
    served pairs table — the append path must invalidate the session memo
    (a frozen snapshot would silently miss every post-append duplicate)."""
    import time

    import tigerbeetle_cdc_nats_spark.queries_dedup as qd

    sfd = str(tmp_path / "sf")
    os.makedirs(sfd)
    spark.createDataFrame(
        [(1, GOOD), (2, "totally different words entirely distinct here")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(os.path.join(sfd, "documents.parquet"))

    p1 = qd.corpus_minhash_pairs(spark, sfd)
    p1.count()
    assert qd.corpus_minhash_pairs(spark, sfd) is p1  # memo hit

    idx = qd.stored_index_dir("minhash", sfd)
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    os.makedirs(src)
    _write_docs(spark, src, [(3, GOOD, 1)])  # exact dup of doc 1
    stream = (spark.readStream.schema(DOC_SCHEMA).parquet(src)
              .select("doc_id", "text"))
    q = sc.maintain_minhash_index(stream, idx, checkpoint_dir=chk,
                                  trigger_seconds=0.2)
    try:
        deadline = time.time() + 120

        def _indexed():
            try:
                return {r["doc_id"] for r in
                        spark.read.parquet(iv.current_dir(idx)).select("doc_id")
                        .distinct().collect()}
            except Exception:
                return set()

        while time.time() < deadline and 3 not in _indexed():
            time.sleep(0.5)
        assert 3 in _indexed()
    finally:
        q.stop()
        q.awaitTermination(60)

    p2 = qd.corpus_minhash_pairs(spark, sfd)
    assert p2 is not p1, "append must invalidate the session memo"
    pairs = {(r["doc_a"], r["doc_b"]) for r in p2.collect()}
    assert (1, 3) in pairs, "the appended exact dup must pair with doc 1"


def test_maintenance_auto_compaction_bounds_growth(spark, tmp_path):
    """With compact_every set, the maintained index's row count returns to
    the from-scratch baseline after the compaction batch fires, and the
    candidate pairs never change."""
    import time

    from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    chk = str(tmp_path / "chk")
    os.makedirs(src)
    _write_docs(spark, src, [(1, GOOD, 1), (2, GOOD + " more words", 2)])
    # one file per trigger: each _write_docs call (coalesce(1) = one
    # part-file) becomes exactly one numbered batch, so the compaction
    # batch (id 2) is deterministic instead of timing-dependent
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .select("doc_id", "text"))
    q = sc.maintain_minhash_index(stream, idx, checkpoint_dir=chk,
                                  trigger_seconds=0.2, compact_every=2)
    try:
        deadline = time.time() + 120

        def docs_in_index():
            try:
                return {r["doc_id"] for r in spark.read.parquet(iv.current_dir(idx))
                        .select("doc_id").distinct().collect()}
            except Exception:
                return set()

        while time.time() < deadline and docs_in_index() != {1, 2}:
            time.sleep(0.5)
        # batch 1: a replay-shaped append (doc 2 again) + a new doc
        _write_docs(spark, src, [(2, GOOD + " more words", 3), (3, GOOD, 4)])
        while time.time() < deadline and docs_in_index() != {1, 2, 3}:
            time.sleep(0.5)
        # after the compaction cycle the duplicated doc-2 rows are gone:
        # row count equals the from-scratch rebuild
        rebuilt = str(tmp_path / "rebuild")
        all_docs = spark.createDataFrame(
            [(1, GOOD), (2, GOOD + " more words"), (3, GOOD),
             (4, "entirely different text here")],
            "doc_id long, text string")
        di.write_minhash_index(all_docs, rebuilt)
        expected_rows = spark.read.parquet(iv.current_dir(rebuilt)).count()

        def idx_rows():
            try:
                return spark.read.parquet(iv.current_dir(idx)).count()
            except Exception:
                return -1

        # batch 2 triggers compaction (batch_id 2 % compact_every 2 == 0);
        # poll for doc 4 AND the compacted row count — doc visibility
        # alone would stop the stream mid-compaction (same foreachBatch
        # call), and row count alone collides with the pre-batch-2 count
        # (3 docs + 1 replayed = the same 4-doc total the rebuild has)
        _write_docs(spark, src, [(4, "entirely different text here", 5)])
        while time.time() < deadline and not (
                docs_in_index() == {1, 2, 3, 4}
                and idx_rows() == expected_rows):
            time.sleep(0.5)
        assert docs_in_index() == {1, 2, 3, 4}
        assert idx_rows() == expected_rows
    finally:
        q.stop()
        q.awaitTermination(60)

    def pairs(p):
        return sorted(map(tuple, di.minhash_pairs_from_index(
            di.read_minhash_index(spark, p)).collect()))

    assert pairs(idx) == pairs(rebuilt)


def test_ann_maintenance_auto_compaction(spark, tmp_path):
    """compact_every on the vector stream: after the compaction batch the
    maintained index's (vec_id, bucket) rows equal a from-scratch rebuild
    even though a batch was replay-appended. Deterministic batches via
    one-file-per-trigger; the poll requires BOTH the final id set and the
    compacted row count (the mid-stream count can transiently equal the
    target)."""
    import time

    from pyspark.sql import types as T

    from tigerbeetle_cdc_nats_spark.operators import similarity as sim
    from tigerbeetle_cdc_nats_spark.sources import ann_index as ai

    dim = 8
    planes = sim.hyperplanes(n_planes=4, dim=dim)
    src = str(tmp_path / "vsrc")
    idx = str(tmp_path / "vidx")
    chk = str(tmp_path / "vchk")
    os.makedirs(src)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])

    def vec(i):
        return [float((i * 7 + j) % 5 - 2) for j in range(dim)]

    def write_batch(ids):
        spark.createDataFrame([(i, vec(i)) for i in ids], schema) \
            .coalesce(1).write.mode("append").parquet(src)

    def indexed_ids():
        try:
            return {r["vec_id"] for r in spark.read.parquet(iv.current_dir(idx))
                    .select("vec_id").distinct().collect()}
        except Exception:
            return set()

    def idx_rows():
        try:
            return spark.read.parquet(iv.current_dir(idx)).count()
        except Exception:
            return -1

    write_batch(range(0, 4))                     # batch 0
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = sc.maintain_ann_index(stream, idx, planes, checkpoint_dir=chk,
                              dim=dim, trigger_seconds=0.2,
                              compact_every=2)
    try:
        deadline = time.time() + 120
        while time.time() < deadline and indexed_ids() != set(range(4)):
            time.sleep(0.5)
        write_batch([2, 3, 4, 5])                # batch 1: replay of 2,3
        while time.time() < deadline and indexed_ids() != set(range(6)):
            time.sleep(0.5)
        write_batch([6])                         # batch 2 -> compaction
        while time.time() < deadline and not (
                indexed_ids() == set(range(7)) and idx_rows() == 7):
            time.sleep(0.5)
        assert indexed_ids() == set(range(7))
        assert idx_rows() == 7                   # replay rows compacted
    finally:
        q.stop()
        q.awaitTermination(60)


def test_note_batch_missing_marker_is_suspected_replay(tmp_path):
    """Crash window between the bootstrap overwrite and its marker write
    (round-10 advice): the replayed first batch re-enters via the APPEND
    path with no ``.last_batch`` present, so the append-path call must
    treat the missing marker as a suspected replay — otherwise its
    duplicate rows never compact when compact_every=None."""
    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    # bootstrap path (suspect_if_missing=False): fresh dir, not a replay
    assert sc._note_batch(idx, 0) is False
    # normal append: marker present, higher id -> not a replay
    assert sc._note_batch(idx, 1, suspect_if_missing=True) is False
    # true replay: same id re-delivered
    assert sc._note_batch(idx, 1, suspect_if_missing=True) is True
    # crash window: marker lost after data landed -> suspected replay
    os.remove(os.path.join(idx, ".last_batch"))
    assert sc._note_batch(idx, 2, suspect_if_missing=True) is True
    # ...and the marker is restored by that call
    assert sc._note_batch(idx, 3, suspect_if_missing=True) is False


def test_streamed_text_verdict_equals_batch_at_each_phase(spark, tmp_path):
    """Round-11 twin of the embedding-verdict lifecycle pin: the TEXT
    dedup verdict served from the stream-maintained MinHash index (with
    its max_pop census sidecar refreshed per append) must equal the
    batch recompute after bootstrap, after a crash-replay re-append
    (duplicate banded rows present), and after compaction."""
    import time

    from tigerbeetle_cdc_nats_spark.operators import dedup as dd
    from tigerbeetle_cdc_nats_spark.queries_dedup import (
        text_verdict_from_banded,
    )
    from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    chk = str(tmp_path / "chk")
    os.makedirs(src)
    batch1 = [(1, GOOD, 1), (2, GOOD + " extra tokens here", 2)]
    batch2 = [(3, GOOD, 3),
              (4, "totally different words entirely distinct phrase", 4)]

    def served_verdict():
        meta = di.read_index_meta(idx)
        return sorted(map(tuple, text_verdict_from_banded(
            all_docs.select("doc_id"),
            di.read_minhash_index(spark, idx)
            .select("doc_id", "band", "bucket", "sig"),
            max_pop=int(meta["max_pop"])).collect()))

    def batch_verdict(docs):
        return sorted(map(tuple, text_verdict_from_banded(
            docs.select("doc_id"),
            dd.banded_buckets(dd.minhash_signatures(docs))).collect()))

    def _index_docs():
        try:
            return {r["doc_id"] for r in
                    spark.read.parquet(iv.current_dir(idx))
                    .select("doc_id").distinct().collect()}
        except Exception:
            return set()

    _write_docs(spark, src, batch1)
    _write_docs(spark, src, batch2)
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .select("doc_id", "text"))
    q = sc.maintain_minhash_index(stream, idx, checkpoint_dir=chk,
                                  trigger_seconds=0.2)
    try:
        deadline = time.time() + 120
        while time.time() < deadline and _index_docs() != {1, 2, 3, 4}:
            time.sleep(0.5)
        assert _index_docs() == {1, 2, 3, 4}
    finally:
        q.stop()
        q.awaitTermination(60)
    all_docs = spark.createDataFrame(
        [(i, t) for i, t, _s in batch1 + batch2],
        "doc_id long, text string")
    want = batch_verdict(all_docs)
    assert any(r[2] == 0 for r in want)  # the planted dup is dropped
    # phase 1: post-bootstrap+appends, sidecar present and fresh
    assert di.read_index_meta(idx).get("max_pop") is not None
    assert served_verdict() == want
    # phase 2: crash-replay re-append -> duplicate banded rows; the
    # sidecar census now counts them (max_pop rises), and the verdict
    # must be unchanged on every tier (force the hot scan too)
    di.append_minhash_index(
        spark.createDataFrame([(i, t) for i, t, _s in batch2],
                              "doc_id long, text string"), idx)
    assert served_verdict() == want
    banded = (di.read_minhash_index(spark, idx)
              .select("doc_id", "band", "bucket", "sig"))
    assert sorted(map(tuple, text_verdict_from_banded(
        all_docs.select("doc_id"), banded, cap=0,
        scan_cap=10**9).collect())) == want
    # phase 3: compaction drops the duplicates and re-censuses
    di.compact_minhash_index(spark, idx)
    assert served_verdict() == want
