"""Persisted text-dedup indexes: MinHash banded + winnowing fingerprints.

The vector side stores its index as a partitioned artifact
(sources/ann_index.py); this is the text near-dup family's twin.
Signatures are computed once per corpus, stored partitioned and built
whole (a rebuild overwrites the root), and every dedup query (full
self-join or delta probe) runs against the stored artifact with
file-level pruning.

Layouts (both derive from the exact operators the in-session queries use,
so stored and fresh paths produce byte-identical candidates):

- **MinHash banded index** — ``(doc_id, sig, band, bucket)`` rows
  partitioned by ``(band, shard)`` where ``shard = xxhash64(bucket) %
  N_SHARDS``: a delta probe touches only the (band, shard) directories
  its probe buckets map to; the full self-join reads the index instead of
  recomputing one md5 per gram occurrence per side.
- **Winnowing fingerprint index** — ``(doc_id, wm)`` rows partitioned by
  ``shard = wm % N_SHARDS``: same probe pruning on the 60-bit
  fingerprint's shard.

``probe_*`` joins ONLY a delta against the stored corpus, so a probe
costs O(|delta| x bands), not O(corpus).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from tigerbeetle_cdc_nats_spark.operators import dedup as dd

#: Default shard fan-out for indexes written before metadata existed.
N_SHARDS = 16

#: Per-index metadata (shard count) — MUST ride with the index: the probe
#: derives a row's shard with the same modulus, and a mismatched count
#: would prune to the WRONG partitions and silently lose candidates.
_META = "_index_meta.json"


def shards_for_corpus(n_docs: int, *, docs_per_shard: int = 50_000,
                      max_shards: int = 256) -> int:
    """Shard fan-out scaled to the corpus: tiny corpora get 1 shard (the
    fixed fan-out costs more in partition discovery than it prunes —
    measured 3.5 s vs 0.6 s at 5k docs), large corpora get enough shards
    that a probed directory stays within a few file splits."""
    return max(1, min(max_shards, int(n_docs) // docs_per_shard + 1))


def _write_meta(path: str, n_shards: int,
                max_pop: int | None = None) -> None:
    """Write shard metadata into the index root. ``max_pop`` is the
    band-bucket population census maximum — the text verdict's
    zero-Spark-jobs plan-choice sidecar, written at every build like the
    ANN skew sidecar."""
    os.makedirs(path, exist_ok=True)
    meta: dict = {"n_shards": int(n_shards)}
    if max_pop is not None:
        meta["max_pop"] = int(max_pop)
    with open(os.path.join(path, _META), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)


def _census_max_pop(spark: SparkSession, physical_dir: str) -> int:
    """MAX band-bucket population over a written index directory — a
    2-column pruned scan + map-side-combinable count, run once per index
    build so every later verdict plans with zero Spark jobs."""
    pop = (spark.read.parquet(physical_dir)
           .groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("c"))
           .agg(F.max("c").alias("m")).first())
    return int(pop["m"] or 0)


def _read_meta_shards(path: str) -> int:
    try:
        with open(os.path.join(path, _META), encoding="utf-8") as fh:
            return int(json.load(fh)["n_shards"])
    except (OSError, ValueError, KeyError):
        return N_SHARDS  # pre-metadata index layout


def _bucket_shard(col, n_shards: int) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(n_shards)).cast("int")


# -- MinHash banded index ---------------------------------------------------

def write_minhash_index(docs: DataFrame, path: str, *,
                        n_shards: int | None = None) -> None:
    """Compute signatures + banding for ``docs`` and store them
    ``(band, shard)``-partitioned. Shard count defaults to
    ``shards_for_corpus`` and is persisted in the index metadata so
    probes always derive shards with the writer's modulus."""
    if n_shards is None:
        n_shards = shards_for_corpus(docs.count())
    banded = dd.banded_buckets(dd.minhash_signatures(docs))
    (banded.withColumn("shard", _bucket_shard(F.col("bucket"), n_shards))
     .write.mode("overwrite").partitionBy("band", "shard").parquet(path))
    # sidecar: census the WRITTEN directory, so the stored max_pop
    # always reflects index contents
    _write_meta(path, n_shards,
                max_pop=_census_max_pop(docs.sparkSession, path))


def read_minhash_index(spark: SparkSession, path: str) -> DataFrame:
    from tigerbeetle_cdc_nats_spark.session import configure, memo_read_parquet

    configure(spark)
    # keyed on the meta sidecar: every build rewrites it last, so the
    # memo can never serve a stale file listing
    return memo_read_parquet(spark, path, os.path.join(path, _META))


def read_minhash_snapshot(spark: SparkSession,
                          path: str) -> tuple[DataFrame, dict]:
    """(banded rows, metadata) of the stored index; ``{}`` when the
    metadata is unreadable (a pre-metadata index)."""
    try:
        with open(os.path.join(path, _META), encoding="utf-8") as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        meta = {}
    return read_minhash_index(spark, path), meta


def minhash_pairs_from_index(index: DataFrame) -> DataFrame:
    """Full candidate-pair query against the stored index — identical
    output to operators/dedup.minhash_candidate_pairs, minus the
    signature build (the expensive pass at scale)."""
    return dd.pairs_est_from_banded(
        index.select("doc_id", "band", "bucket", "sig"))


def _persist_fresh(delta: DataFrame) -> DataFrame:
    """``delta.persist()`` for a probe. CacheManager matches a plan by
    source path, not content, so first release the copy an earlier probe
    of a since-rewritten source persisted; else this probe would read its
    stale blocks."""
    delta.unpersist()
    return delta.persist()


def probe_minhash_index(spark: SparkSession, path: str,
                        delta_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Delta-vs-corpus probe: band the delta, prune the stored index to
    the delta's (band, shard) partitions, equality-join on (band, bucket).

    Output: ``(pairs, delta)``. ``pairs`` is (doc_id [delta], other_id,
    est_jaccard) — cost tracks the DELTA size; the index side reads only
    the probed partition directories (file-level pruning, plan-tested).
    ``delta`` is the persisted banded delta the pairs read; the caller
    unpersists it once it drops the pairs.
    """
    n_shards = _read_meta_shards(path)
    delta_banded = (dd.banded_buckets(dd.minhash_signatures(delta_docs))
                    .withColumn("shard",
                                _bucket_shard(F.col("bucket"), n_shards)))
    delta_banded = _persist_fresh(delta_banded)
    # Bounded driver-side probe set: <= bands x N_SHARDS entries.
    probed = {(int(r["band"]), int(r["shard"]))
              for r in delta_banded.select("band", "shard")
              .distinct().collect()}
    index = read_minhash_index(spark, path)
    pred = None
    for band, shard in sorted(probed):
        clause = (F.col("band") == band) & (F.col("shard") == shard)
        pred = clause if pred is None else (pred | clause)
    if pred is None:
        empty = spark.createDataFrame(
            [], "doc_id long, other_id long, est_jaccard double")
        return empty, delta_banded
    a = delta_banded.alias("a")
    b = index.where(pred).alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id"),
                F.col("b.doc_id").alias("other_id"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["doc_id", "other_id"])
    )
    est = dd.sig_agreement_count() / F.lit(float(dd.MINHASH_K))
    return (pairs.select("doc_id", "other_id", est.alias("est_jaccard")),
            delta_banded)


# -- Winnowing fingerprint index --------------------------------------------

def write_winnow_index(docs: DataFrame, path: str, *,
                       n_shards: int | None = None) -> None:
    """Winnowed fingerprint set (doc_id, wm) stored shard-partitioned
    (corpus-scaled shard count, persisted in the index metadata)."""
    from tigerbeetle_cdc_nats_spark.queries_corpus import winnow_fingerprints

    if n_shards is None:
        n_shards = shards_for_corpus(docs.count())
    fp = winnow_fingerprints(docs)
    (fp.withColumn("shard", F.pmod(F.col("wm"), F.lit(n_shards))
                   .cast("int"))
     .write.mode("overwrite").partitionBy("shard").parquet(path))
    _write_meta(path, n_shards)


def read_winnow_index(spark: SparkSession, path: str) -> DataFrame:
    from tigerbeetle_cdc_nats_spark.session import configure, memo_read_parquet

    configure(spark)
    return memo_read_parquet(spark, path, os.path.join(path, _META))


def winnow_candidates_from_index(index: DataFrame) -> DataFrame:
    """The winnow_candidates query against the stored fingerprint set —
    identical output to the in-session computation, minus the
    posexplode+window fingerprint pass."""
    from tigerbeetle_cdc_nats_spark.queries_corpus import (
        winnow_candidates_from_fp,
    )

    return winnow_candidates_from_fp(index.select("doc_id", "wm"))


def probe_winnow_index(spark: SparkSession, path: str,
                       delta_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Delta probe: fingerprints of the delta joined against ONLY their
    fingerprints' shard partitions in the stored index.

    Output: ``(pairs, delta)``. ``pairs`` is (doc_id [delta], other_id,
    n_shared) — shared-fingerprint counts of each delta doc against the
    indexed corpus. ``delta`` is the persisted delta fingerprints the
    pairs read; the caller unpersists it once it drops the pairs.
    """
    from tigerbeetle_cdc_nats_spark.queries_corpus import winnow_fingerprints

    n_shards = _read_meta_shards(path)
    delta_fp = _persist_fresh(
        winnow_fingerprints(delta_docs)
        .withColumn("shard", F.pmod(F.col("wm"), F.lit(n_shards)).cast("int")))
    shards = sorted({int(r["shard"]) for r in
                     delta_fp.select("shard").distinct().collect()})
    if not shards:
        return spark.createDataFrame(
            [], "doc_id long, other_id long, n_shared long"), delta_fp
    index = read_winnow_index(spark, path).where(
        F.col("shard").isin(shards))
    a, b = delta_fp.alias("a"), index.alias("b")
    pairs = (
        a.join(b, (F.col("a.wm") == F.col("b.wm"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id"),
                 F.col("b.doc_id").alias("other_id"))
        .agg(F.count("*").alias("n_shared"))
    )
    return pairs, delta_fp

