"""Persisted ANN index layout: the embedding corpus written bucket-partitioned.

The ANN queries (queries_similarity) bucket the corpus per session; at
100 TB the bucketing IS the index and must be a stored artifact, not a
per-query computation. This module writes the corpus partitioned by its
LSH bucket (and, for IVF, by cell) so that:

- a query vector's candidate fetch reads ONLY its bucket's files —
  partition pruning turns the candidate scan from O(corpus) to
  O(corpus / 2^planes) at the FILE level, before any row is decoded;
- multi-probe reads (bucket + 1-bit-flip neighbors) become an IN filter
  over partition values — still pruned.

The index is built whole: a rebuild overwrites the root.

The bucket derivation is the same deterministic hyperplane expression the
queries use (operators/similarity.bucket_col), so a stored index and an
in-session bucketing agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tigerbeetle_cdc_nats_spark.operators import similarity as sim


def _bucket_dir_layout(path: str) -> bool:
    """True when the index stores one directory per bucket."""
    import os

    try:
        return any(e.startswith("bucket=") for e in os.listdir(path))
    except OSError:
        return True  # fresh path: the default layout


def write_ann_index(embeddings: DataFrame, path: str,
                    planes: list[list[float]], *,
                    vec_col: str = "embedding", dim: int | None = None,
                    bucket_dirs: bool = True) -> None:
    """Stored LSH index in one of two layouts, chosen by consumer:

    - ``bucket_dirs=True`` (default): one partition directory per LSH
      bucket — file-level pruning for the probe queries (DPP/isin on
      the partition column). The right layout when queries read a FEW
      buckets.
    - ``bucket_dirs=False``: balanced flat files with ``bucket`` as a
      data column, rows in source order. The right layout when the
      consumer scans ALL buckets (near-dup pair serving): per-bucket
      directories buy no pruning there, and they CLUSTER each hot
      bucket into one or two scan partitions, which concentrates the
      hot bucket's entire pair volume on a single join task (measured
      c64 clustered soak: 253 s vs 62 s computed — the broadcast-join
      probe side has no shuffle for AQE skew-splitting to rescue).

    The vector norm is stored alongside (same folded accumulation the
    cosine uses, so FLOOR(cos*1e6) stays bit-identical) — probes read it
    instead of planning a dim-unrolled norm expression per query.
    The build also writes the SKEW SIDECAR (bucket census + hot-bucket
    centroids, see write_skew_sidecar) so serving never recomputes
    bucket populations per query."""
    signed = (sim.signature_cols(embeddings, [planes], vec_col, dim,
                                 bucket_names=["bucket"])
              .withColumn("norm", sim.norm_col(vec_col, dim)))
    w = signed.write.mode("overwrite")
    if bucket_dirs:
        w = w.partitionBy("bucket")
    w.parquet(path)
    write_skew_sidecar(embeddings.sparkSession, path, dim=dim,
                       n_planes=len(planes))


# -- Skew sidecar -------------------------------------------------------------
#
# The skew-safe near-dup serving path (queries_similarity.
# near_dup_pairs_skewsafe) needs two facts about the corpus before it can
# pick its plan: the hottest bucket's population (cold corpora skip the
# residual machinery entirely) and, when hot, the hot buckets' centroids.
# Computed per query those are one driver-side census job plus a grouped
# Arrow centroid pass over the hot rows — at 100 TB, one extra scan of
# the bucket census per query. Both are properties of the INDEX, not the
# query, so the build persists them next to the vectors:
#
# - ``_skew_meta.json``: {"max_pop", "n_rows", "cap", "sec", "n_planes",
#   and — hot indexes with known geometry — "max_cell_pop", the level-1
#   residual cell census max that the serving path's depth-2 recursion
#   trigger would otherwise compute per query} — read driver-side with
#   zero Spark jobs;
# - ``_skew_centroids/``: parquet (bucket, c_arr), present iff some
#   bucket exceeds the cap (bucket_centroids' pinned vec_id fold order,
#   so stored == freshly-computed bit-for-bit).
#
# Underscore-prefixed paths are invisible to Spark's file listing, so
# index readers see only vectors. The census is a partition-column-only
# aggregate (row counts from parquet footers — no data column is
# decoded); the centroid pass reads only hot-bucket partitions (pruned).

_SKEW_META = "_skew_meta.json"
_SKEW_CENTROIDS = "_skew_centroids"


def write_skew_sidecar(spark: SparkSession, path: str, *,
                       dim: int | None = None,
                       cap: int | None = None,
                       n_planes: int | None = None) -> None:
    """(Re)compute the bucket census over the index and persist
    ``max_pop`` + hot-bucket centroids (see module comment above).

    When the index is HOT (some bucket over ``cap``) and the build
    geometry is known (``n_planes``), also persist ``max_cell_pop`` —
    the hottest level-1 residual intersection cell's population,
    computed through the exact shared geometry serving uses
    (queries_similarity.level1_cell_max). That is the value the serving
    path's depth-2 recursion trigger would otherwise census with a
    per-query driver action; with it stored, warm hot-corpus serving
    plans with ZERO Spark jobs just like the cold path."""
    import json
    import os
    import shutil

    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        HOT_CAP,
        SEC_PLANES,
        bucket_centroids,
        level1_cell_max,
    )

    if cap is None:
        cap = HOT_CAP
    # DIRECT read, not read_ann_index's memo: this census runs right
    # after the rows were written and BEFORE the sidecar marker is
    # rewritten, so the memo would serve the pre-build file listing
    # here and the census would miss the new rows.
    idx = spark.read.parquet(path)
    if n_planes is None:
        # a re-census that doesn't know the plane set carries it over from
        # the previous sidecar generation (the plane set is fixed per
        # index generation — the caller owns plane-set versioning).
        prior = read_skew_meta(path)
        n_planes = prior.get("n_planes") if prior else None
    pop = idx.groupBy("bucket").agg(F.count(F.lit(1)).alias("_pop"))
    row = pop.agg(F.max("_pop").alias("m"),
                  F.sum("_pop").alias("n")).first()
    max_pop = int(row["m"] or 0)
    n_rows = int(row["n"] or 0)
    cdir = os.path.join(path, _SKEW_CENTROIDS)
    meta = {"max_pop": max_pop, "n_rows": n_rows, "cap": cap,
            "sec": SEC_PLANES, "n_planes": n_planes}
    if max_pop > cap:
        hot = (idx.join(F.broadcast(pop.where(F.col("_pop") > cap)),
                        "bucket")
               .select("bucket", "vec_id", "embedding"))
        cent = bucket_centroids(hot)
        cent.write.mode("overwrite").parquet(cdir)
        if n_planes is not None:
            if dim is None:  # build-time-only probe; serving never pays it
                dim = len(idx.select("embedding").first()[0])
            b = idx.select("vec_id", "embedding", "bucket",
                           index_norm(idx, "embedding", dim).alias("norm"))
            meta["max_cell_pop"] = level1_cell_max(
                b, dim, n_planes, max_pop, spark.read.parquet(cdir))
    else:
        shutil.rmtree(cdir, ignore_errors=True)  # stale hot-era sidecar
    tmp = os.path.join(path, _SKEW_META + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, _SKEW_META))


def read_skew_meta(path: str) -> dict | None:
    """The stored census summary, or None (pre-sidecar index) — a
    driver-side file read, NO Spark job."""
    import json
    import os

    try:
        with open(os.path.join(path, _SKEW_META), encoding="utf-8") as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    return meta if isinstance(meta, dict) and "max_pop" in meta else None


def read_skew_centroids(spark: SparkSession, path: str) -> DataFrame | None:
    """The stored hot-bucket centroid table, or None when absent."""
    import os

    from tigerbeetle_cdc_nats_spark.session import configure

    cdir = os.path.join(path, _SKEW_CENTROIDS)
    if not os.path.isdir(cdir):
        return None
    configure(spark)
    return spark.read.parquet(cdir)


def ensure_skew_sidecar(spark: SparkSession, path: str, *,
                        dim: int | None = None,
                        n_planes: int | None = None) -> None:
    """Write the sidecar for a pre-sidecar index; ALSO upgrade a stale
    sidecar generation (round-9 advisor item): a pre-round-9 meta lacks
    ``n_planes``, and a hot index whose meta lacks ``max_cell_pop``
    keeps paying the per-query depth-2 census job that the stored value
    exists to eliminate. No-op only when the meta is current."""
    meta = read_skew_meta(path)
    if meta is None:
        write_skew_sidecar(spark, path, dim=dim, n_planes=n_planes)
        return
    known_planes = n_planes if n_planes is not None else meta.get("n_planes")
    stale = (n_planes is not None and meta.get("n_planes") is None) or (
        known_planes is not None
        and meta.get("max_pop", 0) > meta.get("cap", 0)
        and "max_cell_pop" not in meta)
    if stale:
        # keep the stale generation's cap: the upgrade adds the missing
        # round-9 fields, it must not silently change the hot-bucket set
        write_skew_sidecar(spark, path, dim=dim, cap=meta.get("cap"),
                           n_planes=known_planes)


def index_norm(idx: DataFrame, vec_col: str = "embedding",
               dim: int | None = None):
    """The stored ``norm`` column, or the computed fold for indexes
    written before norms were stored (backward compatible)."""
    if "norm" in idx.columns:
        return F.col("norm")
    return sim.norm_col(vec_col, dim)


def read_ann_index(spark: SparkSession, path: str) -> DataFrame:
    import os

    from tigerbeetle_cdc_nats_spark.session import configure, memo_read_parquet

    configure(spark)
    # keyed on the skew sidecar: write_ann_index finishes by rewriting
    # it, so the memoized listing is invalidated on every build; a
    # pre-sidecar index falls through to a direct read
    return memo_read_parquet(spark, path, os.path.join(path, _SKEW_META))


# -- Stored IVF index --------------------------------------------------------
#
# The inverted-file twin of the LSH bucket index: the corpus coarse-
# quantized once (map-side Arrow argmax, queries_similarity.ivf_assign)
# and stored partitioned by cell, with the centroid table persisted
# UNDER the same root as an underscore-prefixed sidecar (parquet readers
# skip underscore paths, so spark.read.parquet(root) sees only vectors).
# A query then re-assigns ONLY itself against the stored centroids —
# bit-identical to the build-time assignment — and probes its cell's
# partition directory.

_IVF_CENTROIDS = "_centroids"


def write_ivf_index(embeddings: DataFrame, path: str, *,
                    dim: int | None = None) -> None:
    import os

    from tigerbeetle_cdc_nats_spark.queries_similarity import (
        centroid_vectors,
        ivf_assign,
    )

    from pyspark import StorageLevel

    # vectors FIRST (the root overwrite clears the directory), sidecar
    # second. Using the in-memory centv for assignment equals using the
    # stored copy: centroids are integer-e6 longs, lossless in parquet.
    centv = centroid_vectors(embeddings).persist(
        StorageLevel.MEMORY_AND_DISK)
    (ivf_assign(embeddings, centv, dim=dim)
     .write.mode("overwrite").partitionBy("cell").parquet(path))
    centv.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, _IVF_CENTROIDS))
    centv.unpersist()
    open(os.path.join(path, "_SUCCESS"), "a").close()


def read_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    from tigerbeetle_cdc_nats_spark.session import configure

    configure(spark)
    return spark.read.parquet(path)


def read_ivf_centroids(spark: SparkSession, path: str) -> DataFrame:
    import os

    from tigerbeetle_cdc_nats_spark.session import configure

    configure(spark)
    return spark.read.parquet(os.path.join(path, _IVF_CENTROIDS))
