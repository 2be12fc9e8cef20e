"""Persisted composed corpus-dedup verdict, maintained from ingest deltas.

Round-11 closed the verdict family (text / embedding / composed / delta)
but every consumer of the COMPOSED verdict still recomputed all three
stage verdicts per query (queries_pipeline.corpus_verdict), and the delta
verdicts existed with nothing folding them into a persisted artifact. At
100 TB you verdict the corpus once, then fold each ingest batch's delta
verdict into the stored artifact — the reference's progress-record
pattern (runner.go:412-423: persist the high-water mark, resume from it)
applied to the per-doc curation decision.

Snapshot layout (sources/index_versioning root, immutable ``v<N>/``
snapshots + ``CURRENT`` pointer, same contract as the minhash/ANN
indexes):

- ``verdict/`` — ``(doc_id, rep_id, is_kept, stage)`` parquet, one row
  per corpus doc (plus replayed duplicates between compactions —
  at-least-once appends re-add identical rows, dropped by
  ``read_corpus_verdict``'s doc_id dedup and physically removed by
  ``compact_verdict_store``);
- ``hashes/`` — ``(h, rep, shard)`` parquet partitioned by ``shard =
  pmod(xxhash64(h), n_shards)``: the EXACT stage's inverted index
  (min doc_id per content hash). A batch's exact probe prunes to its
  own hashes' shards — a bounded (<= n_shards) driver-side partition
  set, the same probe shape as the minhash (band, shard) pruning — so
  the per-batch exact stage reads O(|delta|) index partitions, never
  the whole hash store;
- ``_store_meta.json`` — ``{"n_shards"}``; ``_SUCCESS`` trust marker.

Maintenance contract (the streaming fold in streaming/corpus.
maintain_corpus_verdict): batches carry MONOTONICALLY increasing doc_ids
(the production ingest invariant — a doc's verdict depends only on
smaller-id docs under keep-first-by-id, so earlier docs' verdicts are
immutable and the fold is append-only). A replayed batch recomputes
bit-identical verdict rows — the underlying indexes already contain the
batch (appended before probing, so within-batch neighbors resolve), and
min() folds are insensitive to the duplicates replay adds — so replay
degrades to duplicate rows, compacted away like every other index here.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from tigerbeetle_cdc_nats_spark.sources import index_versioning as iv

_META = "_store_meta.json"

#: Default hash-shard fan-out (same scaling rule as the minhash index).
N_SHARDS = 16


def _hash_shard(col, n_shards: int) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(n_shards)).cast("int")


def _write_meta(dest: str, n_shards: int) -> None:
    os.makedirs(dest, exist_ok=True)
    with open(os.path.join(dest, _META), "w", encoding="utf-8") as fh:
        json.dump({"n_shards": int(n_shards)}, fh)


def read_store_meta(path: str) -> dict:
    try:
        with open(os.path.join(iv.current_dir(path), _META),
                  encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def write_verdict_store(verdict: DataFrame, hashes: DataFrame,
                        path: str, *, mode: str = "overwrite",
                        n_shards: int | None = None) -> None:
    """Persist verdict rows + the exact-stage hash index as one snapshot.

    ``hashes`` is ``(h, rep)`` — min doc_id per content hash for the
    rows being written (the writer folds per-hash, the reader folds
    across appends, so appended duplicates can never raise a min).
    """
    if n_shards is None:
        n_shards = (read_store_meta(path).get("n_shards")
                    if mode == "append" else None) or N_SHARDS
    dest = iv.current_dir(path) if mode == "append" else path
    (verdict.select("doc_id", "rep_id", "is_kept", "stage")
     .write.mode(mode).parquet(os.path.join(dest, "verdict")))
    (hashes.select("h", "rep")
     .withColumn("shard", _hash_shard(F.col("h"), n_shards))
     .write.mode(mode).partitionBy("shard")
     .parquet(os.path.join(dest, "hashes")))
    _write_meta(dest, n_shards)
    open(os.path.join(dest, "_SUCCESS"), "a").close()


def append_verdict_store(verdict: DataFrame, hashes: DataFrame,
                         path: str) -> None:
    write_verdict_store(verdict, hashes, path, mode="append")


def read_corpus_verdict(spark: SparkSession, path: str) -> DataFrame:
    """|docs|-sized composed verdict from the live snapshot. Replayed
    appends duplicate rows BIT-IDENTICALLY (the fold is deterministic
    over smaller-id state that replay cannot change), so a doc_id-keyed
    max() collapse restores exactly the one true row per doc without a
    window or sort."""
    from tigerbeetle_cdc_nats_spark.session import memo_read_parquet

    snap = iv.current_dir(path)
    # keyed on the store meta: every build/append/compaction rewrites it
    # after the verdict/hash rows land, so the memo never serves a stale
    # listing
    rows = memo_read_parquet(spark, os.path.join(snap, "verdict"),
                             os.path.join(snap, _META))
    return (rows.groupBy("doc_id")
            .agg(F.max("rep_id").alias("rep_id"),
                 F.max("is_kept").alias("is_kept"),
                 F.max("stage").alias("stage")))


def hash_reps_for(spark: SparkSession, path: str,
                  probe_hashes: DataFrame) -> DataFrame:
    """(h, store_rep) for exactly the probed hashes: prune the hash
    index to the probe's shards (bounded <= n_shards driver-side set),
    then broadcast-semi-restrict to the probed h values and min-fold
    across appends."""
    from tigerbeetle_cdc_nats_spark.session import memo_read_parquet

    n_shards = int(read_store_meta(path).get("n_shards") or N_SHARDS)
    snap = iv.current_dir(path)
    idx = memo_read_parquet(spark, os.path.join(snap, "hashes"),
                            os.path.join(snap, _META))
    shards = sorted({
        r["s"] for r in probe_hashes.select(
            _hash_shard(F.col("h"), n_shards).alias("s"))
        .distinct().collect()})
    probe = probe_hashes.select(F.col("h").alias("probe_h")).distinct()
    return (idx.where(F.col("shard").isin(shards))
            .join(F.broadcast(probe), F.col("h") == F.col("probe_h"))
            .groupBy("h").agg(F.min("rep").alias("store_rep")))


def compact_verdict_store(spark: SparkSession, path: str) -> None:
    """Publish a new snapshot with replay duplicates dropped: verdict
    rows collapse per doc_id, hash rows min-fold per hash. Same
    concurrent-reader-safe publish_version contract as the other
    stored indexes (immutable snapshots, atomic CURRENT flip, grace
    window)."""
    n_shards = int(read_store_meta(path).get("n_shards") or N_SHARDS)
    verdict = read_corpus_verdict(spark, path)
    snap = iv.current_dir(path)
    hashes = (spark.read.parquet(os.path.join(snap, "hashes"))
              .groupBy("h").agg(F.min("rep").alias("rep")))

    def write(vdir: str) -> None:
        (verdict.select("doc_id", "rep_id", "is_kept", "stage")
         .write.mode("overwrite").parquet(os.path.join(vdir, "verdict")))
        (hashes.withColumn("shard", _hash_shard(F.col("h"), n_shards))
         .write.mode("overwrite").partitionBy("shard")
         .parquet(os.path.join(vdir, "hashes")))
        _write_meta(vdir, n_shards)
        open(os.path.join(vdir, "_SUCCESS"), "a").close()

    iv.publish_version(path, write)
    spark.catalog.clearCache()
