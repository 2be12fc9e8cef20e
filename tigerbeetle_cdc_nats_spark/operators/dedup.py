"""Deduplication operators for the training-data pipeline surface
(BASELINE.json north star): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Cross-engine determinism: every hash is derived from md5 (identical in Spark
and DuckDB); 60-bit integers come from the first 15 hex digits via base
conversion (`F.conv` == DuckDB `CAST('0x'||... AS BIGINT)` — verified equal).

Scale design:
- exact: hash-partition on the content hash; one shuffle, no sort.
- n-gram Jaccard: pairwise only WITHIN a blocking key (here: source) — the
  all-pairs form is O(n^2) and intentionally not offered.
- MinHash: signatures are per-row maps (no shuffle); the LSH band join is
  the scale path — candidate pairs come from equality joins on (band,
  bucket), never from a cross join. 16 hashes x 8 bands of 2 detects
  Jaccard >~ 0.5 pairs with high probability.
- SimHash: one explode + one groupBy(doc) — linear, shuffle keyed by doc_id.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from tigerbeetle_cdc_nats_spark.session import ensure_parallelism

MINHASH_K = 16
MINHASH_BANDS = 8  # rows-per-band = MINHASH_K / MINHASH_BANDS = 2
SIMHASH_BITS = 60  # md5-prefix hash width

#: Universal-hash family for MinHash permutations: h_i(x) = (a_i*x + b_i) mod P
#: over the 31-bit reduction of the base shingle hash. One md5 per shingle
#: total — the 16 permutations are pure integer arithmetic (the md5-per-
#: permutation form was 16x the hash work for no statistical benefit).
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_A = tuple((2 * i + 1) * 12582917 % MINHASH_P for i in range(MINHASH_K))
MINHASH_B = tuple((i * 4256249 + 1) % MINHASH_P for i in range(MINHASH_K))


def hash60(c: Column) -> Column:
    """60-bit integer hash of a string column (md5-prefix, cross-engine)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_hash60(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def gram_hash_rows(docs: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id", n: int = 3,
                   keep: tuple[str, ...] = ()) -> DataFrame:
    """EXPLODED word-n-gram hashes: one row per (doc, gram occurrence) with
    the 60-bit gram hash as column ``h`` (+ any ``keep`` passthroughs).

    This is the hot path for MinHash and the Jaccard index. The round-1
    array-HOF form (``transform(shingles, i -> md5(...))``) evaluated its
    lambda INTERPRETED — one md5 per element outside whole-stage codegen,
    measured ~6x slower.
    Exploding the gram start indices first makes the concat+md5+conv a
    plain column expression over rows, fully codegen'd and pipelined with
    the scan. Not distinct: dedup downstream only where semantics need it
    (min() for MinHash is duplicate-insensitive).
    """
    toks = F.split(F.col(text_col), " ")
    base = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"),
                    *[F.col(c) for c in keep], toks.alias("_toks"))
    ).where(F.size("_toks") >= n)
    ex = base.withColumn(
        "_i", F.explode(F.sequence(F.lit(0), F.size("_toks") - n)))
    gram = F.concat_ws(
        " ", *[F.element_at("_toks", F.col("_i") + j + 1) for j in range(n)])
    return ex.select("doc_id", *keep, hash60(gram).alias("h"))


def sql_word_shingle_hashes(expr: str = "text", n: int = 3) -> str:
    toks = f"str_split({expr}, ' ')"
    gram = " || ' ' || ".join(f"{toks}[CAST(i + {j} AS INT)]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> {sql_hash60(f'({gram})')})) "
        f"ELSE CAST([] AS BIGINT[]) END"
    )


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: hash-group on md5(text); keeper = min id per
    group. One shuffle on the content hash — scales linearly."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h)
    return docs.select(
        F.col(id_col),
        h.alias("content_hash"),
        F.min(id_col).over(w).alias("keeper_id"),
    ).withColumn(
        "is_dup", (F.col(id_col) != F.col("keeper_id")).cast("int")
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = MINHASH_K) -> DataFrame:
    """k-permutation MinHash signature per doc over word-3-gram shingles.

    One md5 per gram occurrence (exploded, whole-stage codegen —
    ``gram_hash_rows``), then the k universal-hash permutations aggregate
    as k map-side-combinable ``min()``s in ONE groupBy(doc_id): min over
    the gram multiset equals min over the distinct set, so no distinct
    pass is needed. At 100 TB this is a linear scan + one shuffle carrying
    k longs per doc — partial aggregation collapses each input split to
    one row per doc before the exchange.
    """
    ex = gram_hash_rows(docs, text_col=text_col, id_col=id_col)
    h31 = F.col("h") % MINHASH_P
    mins = [
        F.min((F.lit(MINHASH_A[i]) * h31 + F.lit(MINHASH_B[i])) % MINHASH_P)
        .alias(f"_m{i}")
        for i in range(k)
    ]
    return (
        ex.groupBy("doc_id").agg(*mins)
        .select("doc_id", F.array(*[f"_m{i}" for i in range(k)]).alias("sig"))
    )


def sig_agreement_count(k: int = MINHASH_K,
                        sig_a: str = "sig_a",
                        sig_b: str = "sig_b") -> F.Column:
    """Number of agreeing MinHash signature slots, as an UNROLLED sum of
    k integer equality casts. Bit-identical to the
    ``size(filter(zip_with(...)))`` form, but ~4.5x faster on the pair
    hot path (measured round 12, 2.7e8-pair mega-bucket volume: 40.4 s
    -> 9.0 s warm): the higher-order chain allocates a zipped array plus
    a filtered array PER PAIR, while the unrolled sum stays inside
    whole-stage codegen with no allocation. 16 int terms is far under
    the codegen term budget — this is the opposite trade from the dim-64
    FLOAT cosine, where the unrolled form lost to the interpreted fold
    (operators/similarity, round-9 measurement)."""
    total = None
    for i in range(1, k + 1):
        c = (F.element_at(sig_a, i) == F.element_at(sig_b, i)).cast("int")
        total = c if total is None else total + c
    return total


def minhash_candidate_pairs(sigs: DataFrame, bands: int = MINHASH_BANDS,
                            k: int = MINHASH_K) -> DataFrame:
    """LSH banding: bucket = md5 of each band's signature slice; candidate
    pairs share (band, bucket). Equality join — the 100 TB path."""
    banded = banded_buckets(sigs, bands=bands, k=k)
    # The self-join references the banded/signature subtree twice and Spark's
    # exchange-reuse rule does not fire across the two join inputs (verified
    # in the recorded plan: two full Scan->Generate subtrees). Materialize the
    # banded side ONCE — MEMORY_AND_DISK so a 100 TB corpus spills instead of
    # recomputing every MinHash signature per join side. The count() is
    # deliberate eager materialization: without it the two join-side stages
    # launch concurrently and race to fill the cache, computing most
    # partitions twice anyway.
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    banded.count()
    return pairs_est_from_banded(banded, k=k)


def pairs_est_from_banded(banded: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Candidate pairs + signature-agreement Jaccard estimate from a
    (doc_id, band, bucket, sig) banded table — shared by the in-session
    self-join above and the PERSISTED banded index
    (sources/dedup_index.py), so stored and fresh paths agree exactly."""
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = sig_agreement_count(k) / F.lit(float(k))
    return pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))


def ngram_jaccard_pairs(docs: DataFrame, *, block_col: str = "source",
                        text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.05) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted-index set-similarity
    join (the PPJoin/vernica-join family shape).

    Instead of scoring every within-block pair (O(n^2/blocks) array
    intersects — the round-1 formulation), pairs are generated ONLY for
    documents that share at least one shingle: explode the shingle sets,
    equi-join on (block, shingle-hash), and the per-pair match count IS the
    exact intersection size (shingle arrays are distinct). This candidate
    set is COMPLETE for any threshold > 0 — jaccard >= t > 0 implies at
    least one shared shingle — unlike a MinHash pre-filter, which is
    probabilistic and drops qualifying pairs at low thresholds.

    Scale shape: the join key (block, shingle) is high-cardinality, so the
    shuffle spreads naturally; cost is sum(df^2) over shingle document
    frequencies rather than n^2/blocks — near-linear for mostly-unique
    3-gram shingles. A pathologically frequent shingle is a skewed key;
    AQE's skew-join splitting handles it (enabled in session.py).
    """
    tok = (
        gram_hash_rows(
            docs.withColumnRenamed(block_col, "block")
            if block_col != "block" else docs,
            text_col=text_col, id_col=id_col, keep=("block",),
        )
        .dropDuplicates(["doc_id", "h"])   # Jaccard is over shingle SETS
        .withColumn("n_sh",
                    F.count("*").over(Window.partitionBy("doc_id"))
                    .cast("int"))
    )
    # Both join sides read the exploded index — materialize it once
    # (MEMORY_AND_DISK: spills rather than recomputing shingles at scale;
    # the eager count prevents the two join-side stages racing to fill the
    # cache, each computing every partition).
    tok = tok.persist(StorageLevel.MEMORY_AND_DISK)
    tok.count()

    a, b = tok.alias("a"), tok.alias("b")
    paired = (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_inter"))
        .select(
            "doc_a", "doc_b", "n_inter",
            # arrays are distinct: |A u B| = |A| + |B| - |A n B|
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("bigint")
            .alias("n_union"),
        )
    )
    return paired.select(
        "doc_a", "doc_b", "n_inter", "n_union",
        (F.col("n_inter") / F.col("n_union")).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


#: Bit-packed vote counters: 3 per 63-bit long, 21 bits each. The packed SUM
#: stays in BIGINT range for up to 2^20 (~1M) distinct tokens per document —
#: far beyond any real document.
_SIMHASH_SLOT = 21
_SIMHASH_PER_LONG = 3


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = SIMHASH_BITS) -> DataFrame:
    """60-bit SimHash over distinct tokens: bit i of the fingerprint is set
    when the +1/-1 vote sum of token-hash bit i is positive.

    One explode + one groupBy — linear in corpus size. The per-bit set
    counts are BIT-PACKED three to a long (21 bits each), so the aggregate
    carries 20 packed sums + 1 token count instead of 60 separate sums: 3x
    narrower shuffle rows and 3x less aggregate codegen. The +1/-1 vote is
    recovered exactly: vote_i > 0  <=>  2*set_count_i > n_tokens.
    """
    toks = F.explode(F.array_distinct(F.split(F.col("_t"), " "))).alias("tok")
    exploded = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    ).select("doc_id", toks)
    hashed = exploded.select("doc_id", hash60(F.col("tok")).alias("h"))
    n_longs = -(-bits // _SIMHASH_PER_LONG)
    packed = [
        # each term fully parenthesized: SQL '+' binds tighter than '<<'
        F.sum(F.expr(" + ".join(
            f"((shiftright(h, {j * _SIMHASH_PER_LONG + s}) & 1)"
            f" << {s * _SIMHASH_SLOT})"
            for s in range(_SIMHASH_PER_LONG)
            if j * _SIMHASH_PER_LONG + s < bits
        ))).alias(f"p{j}")
        for j in range(n_longs)
    ]
    agg = hashed.groupBy("doc_id").agg(
        F.count("*").alias("_n"), *packed)
    mask = (1 << _SIMHASH_SLOT) - 1
    fp_terms = []
    for i in range(bits):
        j, s = divmod(i, _SIMHASH_PER_LONG)
        fp_terms.append(
            f"(CASE WHEN ((shiftright(p{j}, {s * _SIMHASH_SLOT}) & {mask}))"
            f" * 2 > _n THEN {1 << i} ELSE 0 END)")
    fp = F.expr(" + ".join(fp_terms))
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def sql_simhash(docs_sql: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB oracle for :func:`simhash` (same packed counts, same bit
    rule — integer-exact on both engines)."""
    n_longs = -(-bits // _SIMHASH_PER_LONG)
    packed = ", ".join(
        "CAST(SUM(" + " + ".join(
            f"(((h >> {j * _SIMHASH_PER_LONG + s}) & 1)"
            f" << {s * _SIMHASH_SLOT})"
            for s in range(_SIMHASH_PER_LONG)
            if j * _SIMHASH_PER_LONG + s < bits
        ) + f") AS BIGINT) AS p{j}"
        for j in range(n_longs)
    )
    mask = (1 << _SIMHASH_SLOT) - 1
    fp_terms = []
    for i in range(bits):
        j, s = divmod(i, _SIMHASH_PER_LONG)
        fp_terms.append(
            f"(CASE WHEN ((p{j} >> {s * _SIMHASH_SLOT}) & {mask}) * 2 > n "
            f"THEN {1 << i} ELSE 0 END)")
    fp = " + ".join(fp_terms)
    return f"""
toks AS (SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS tok
         FROM ({docs_sql})),
hashed AS (SELECT doc_id, {sql_hash60('tok')} AS h FROM toks),
votes AS (SELECT doc_id, COUNT(*) AS n, {packed} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes"""


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected pair graph via hash-to-min
    label propagation: every node starts labeled with its own id, and each
    round takes the min of its own and its neighbors' labels, until a
    fixpoint. The final label is the component's minimum node id — the
    canonical "keeper" convention of dedup pipelines.

    Scale shape: each round is one shuffle join (edges x labels, both keyed
    on node id) plus one min-aggregate; rounds needed = graph diameter.
    Near-dup graphs are unions of small tight clusters, so the diameter is
    small (single digits) in practice; a worst-case chain of length n would
    need the large-star/small-star variant (Kiveris et al., "Connected
    Components in MapReduce"), which this degrades to gracefully — max_iter
    bounds the work and convergence is detected by the monotone label-sum
    invariant (one tiny action per round). Labels are localCheckpoint'd per
    round to truncate lineage — without it the plan doubles each iteration.

    Output: (node, cluster_id) — one row per node that appears in an edge.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # Every round re-reads the edge set: without materialization each
    # iteration would recompute the whole upstream pipeline (e.g. the
    # MinHash shingle->band->join chain) from the source scan.
    sym = sym.localCheckpoint(eager=True)
    # seed with the one-hop min (min of self and direct neighbors): tight
    # pair-clusters — the common near-dup case — start at the fixpoint and
    # pay only the single verification round
    labels = (sym.select(F.col("a").alias("node"),
                         F.least("a", "b").alias("lbl"))
              .groupBy("node").agg(F.min("lbl").alias("lbl"))
              .localCheckpoint(eager=True))
    prev = labels.agg(F.sum("lbl")).first()[0]
    for _ in range(max_iter):
        prop = (sym.join(labels, sym.a == labels.node)
                .select(F.col("b").alias("node"), F.col("lbl")))
        labels = (labels.union(prop)
                  .groupBy("node").agg(F.min("lbl").alias("lbl"))
                  .localCheckpoint(eager=True))
        # label sum strictly decreases until the fixpoint (labels only
        # ever shrink toward the component min) — cheap convergence probe
        cur = labels.agg(F.sum("lbl")).first()[0]
        if cur == prev:
            break
        prev = cur
    return labels.select("node", F.col("lbl").alias("cluster_id"))


def prefix_jaccard_pairs(docs: DataFrame, *, t_num: int = 1, t_den: int = 2,
                         n: int = 3) -> DataFrame:
    """Exact set-similarity join: all (doc_a < doc_b) pairs whose word-n-gram
    Jaccard >= t_num/t_den, via PPJoin-style prefix filtering.

    Completeness chain (each step keeps a superset of qualifying pairs):
    - prefix filter: under ONE global gram order (ascending frequency,
      hash tie-break), a pair with J >= t must share a gram within each
      doc's first |x| - ceil(t*|x|) + 1 grams;
    - length filter: J >= t forces min_size >= t * max_size
      (inter <= min, union >= max);
    - positional filter: for the pair's FIRST shared gram, at prefix
      positions (pa, pb), overlap <= 1 + min(na-pa, nb-pb) — both docs
      list common grams in the same global order, so all later shared
      grams sit after pa AND pb. Candidate rows are OR-ed per pair, so a
      row for the first shared gram always survives if the pair can
      qualify.
    Exact verification (sorted-array intersection per candidate) then
    removes every false positive, so the result equals brute force.

    Scale: the candidate join touches only prefix grams — by construction
    the globally RAREST ones, i.e. the shortest posting lists; the verify
    step is two |cands|-row keyed joins + an O(set) array intersect. No
    stage is all-pairs. The exact/blocked/sketched trio: this operator is
    corpus-global AND exact; ngram_jaccard_pairs is exact within blocks;
    minhash LSH is global but an estimate.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window as W

    grams = (gram_hash_rows(docs, n=n)
             .dropDuplicates(["doc_id", "h"])
             .persist(StorageLevel.MEMORY_AND_DISK))
    freq = grams.groupBy("h").agg(F.count("*").alias("f"))
    w = W.partitionBy("doc_id").orderBy("f", "h")
    # gf is persisted because BOTH the prefix branch and the verify-side
    # set build read it: deriving `sets` from gf (already doc_id-
    # partitioned by the window exchange) lets the groupBy reuse that
    # distribution — one fewer full-corpus shuffle than aggregating the
    # raw grams again (round-9 plan audit of the registry's slowest
    # query).
    gf = (grams.join(freq, "h")
          .select("doc_id", "h",
                  F.row_number().over(w).alias("pos"),
                  F.count("*").over(W.partitionBy("doc_id")).alias("n"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    plen = F.col("n") - F.ceil(F.col("n") * t_num / t_den) + 1
    prefix = gf.where(F.col("pos") <= plen).select("doc_id", "h", "pos", "n")
    pa = prefix.select(F.col("doc_id").alias("doc_a"), "h",
                       F.col("pos").alias("pos_a"), F.col("n").alias("na_p"))
    pb = prefix.select(F.col("doc_id").alias("doc_b"), "h",
                       F.col("pos").alias("pos_b"), F.col("n").alias("nb_p"))
    ub = (F.lit(1)
          + F.least(F.col("na_p") - F.col("pos_a"),
                    F.col("nb_p") - F.col("pos_b")))
    cands = (pa.join(pb, "h")
             .where((F.col("doc_a") < F.col("doc_b"))
                    & (t_den * F.least("na_p", "nb_p")
                       >= t_num * F.greatest("na_p", "nb_p"))
                    & ((t_den + t_num) * ub
                       >= t_num * (F.col("na_p") + F.col("nb_p"))))
             .select("doc_a", "doc_b").distinct())
    # array_intersect is order-insensitive, so the collected gram list
    # needs no sort; n rides along from the window instead of a recount
    sets = gf.groupBy("doc_id").agg(
        F.collect_list("h").alias("hs"),
        F.max("n").alias("n"))
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("hs").alias("ha"), F.col("n").alias("na"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("hs").alias("hb"), F.col("n").alias("nb"))
    scored = (cands.join(sa, "doc_a").join(sb, "doc_b")
              .withColumn("n_inter",
                          F.size(F.array_intersect("ha", "hb"))
                          .cast("bigint")))
    union = F.col("na") + F.col("nb") - F.col("n_inter")
    return (
        scored
        .where(F.lit(t_den) * F.col("n_inter") >= F.lit(t_num) * union)
        .select("doc_a", "doc_b", "n_inter",
                union.cast("bigint").alias("n_union"),
                (F.col("n_inter").cast("double") / union.cast("double"))
                .alias("jaccard"))
    )


def banded_buckets(sigs: DataFrame, bands: int = MINHASH_BANDS,
                   k: int = MINHASH_K) -> DataFrame:
    """(doc_id, band, bucket, sig) LSH rows — the shared banding step of
    the full self-join (minhash_candidate_pairs) and the incremental
    delta-vs-index probe (minhash_incremental_pairs)."""
    rows_per_band = k // bands
    band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return sigs.select("doc_id", "sig", band).select(
        "doc_id",
        "band",
        F.concat_ws(",", *[
            F.element_at("sig", (F.col("band") * rows_per_band + j + 1)
                         .cast("int")).cast("string")
            for j in range(rows_per_band)
        ]).alias("bucket"),
        "sig",
    )


def minhash_incremental_pairs(sigs: DataFrame, delta: Column,
                              k: int = MINHASH_K) -> DataFrame:
    """Incremental LSH dedup: candidate pairs (delta doc, ANY other doc)
    instead of the full self-join — the daily-batch production shape where
    yesterday's corpus is already indexed and only the delta probes it.

    Output: (doc_id [delta side], other_id, other_is_delta, est_jaccard),
    BOTH orientations for delta-delta pairs (each delta doc sees its
    partner), one orientation per delta-base pair.

    Scale: the probe side is |delta| x bands rows — typically a small
    fraction of the corpus, broadcast-able when the daily batch fits; the
    index side is the persisted banded corpus. Join cost tracks the DELTA
    size, not the corpus size: that asymmetry is the entire point of
    maintaining the index incrementally.
    """
    banded = banded_buckets(sigs, k=k).withColumn("is_delta", delta)
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    banded.count()  # eager: both join sides read one materialization
    probe = banded.where("is_delta").alias("a")
    index = banded.alias("b")
    pairs = (
        probe.join(index, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("other_id"),
            F.col("b.is_delta").alias("other_is_delta"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_id", "other_id"])
    )
    est = sig_agreement_count(k) / F.lit(float(k))
    return pairs.select("doc_id", "other_id", "other_is_delta",
                        est.alias("est_jaccard"))
