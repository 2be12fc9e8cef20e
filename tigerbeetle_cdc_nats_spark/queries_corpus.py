"""Corpus-preparation queries beyond per-doc scoring: benchmark
decontamination, within-doc repetition filtering, deterministic stratified
sampling, source mixing weights, and vocabulary statistics.

These are the remaining operations a 100 TB training-data pipeline runs after
dedup/quality/lang-ID (queries_dedup / queries_text / queries_pipeline):
removing benchmark contamination before training, Gopher-style repetition
gates, reproducible subsampling, and data-mixture accounting.

Scale notes per query live on the functions; the common theme is that every
operator here is either a pure per-row map (repetition, sampling — zero
shuffle, whole-stage codegen) or a shuffle keyed on something high-cardinality
(gram hash, token, source) with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tigerbeetle_cdc_nats_spark import queries_dedup as qd
from tigerbeetle_cdc_nats_spark.operators import dedup as dd
from tigerbeetle_cdc_nats_spark.operators import text as tx
from tigerbeetle_cdc_nats_spark.queries_dedup import _MINHASH_CTES
from tigerbeetle_cdc_nats_spark.registry import register
from tigerbeetle_cdc_nats_spark.session import load_table

#: Source partition held out as the "benchmark" set for decontamination.
BENCHMARK_SOURCE = "src19"
#: Shingle width for contamination checks (real pipelines use 8-13; the
#: synthetic docs are ~50 tokens so 4 keeps the check meaningful at sf0.01).
CONTAM_N = 4


@register(
    "decontamination",
    f"""WITH grams AS (
  SELECT doc_id, source,
         unnest({dd.sql_word_shingle_hashes('text', CONTAM_N)}) AS h,
         len({dd.sql_word_shingle_hashes('text', CONTAM_N)}) AS n_grams
  FROM documents
),
bench AS (SELECT DISTINCT h FROM grams WHERE source = '{BENCHMARK_SOURCE}'),
train AS (SELECT * FROM grams WHERE source <> '{BENCHMARK_SOURCE}')
SELECT t.doc_id,
       t.n_grams,
       COUNT(*) AS n_contaminated,
       COUNT(*) / CAST(t.n_grams AS DOUBLE) AS contamination
FROM train t JOIN bench b ON t.h = b.h
GROUP BY t.doc_id, t.n_grams""",
    doc="benchmark decontamination: word-4-gram hash overlap between the "
        "training split and a held-out benchmark source; the canonical "
        "pre-training contamination sweep",
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing >= 1 word-4-gram with the benchmark partition, with the
    shared-gram count and contamination ratio.

    Scale shape: both sides are the exploded distinct gram-hash index
    (`gram_hash_rows` — codegen'd md5, one shuffle-free explode). The join
    key is the 60-bit gram hash: high cardinality, so the shuffle spreads
    evenly; the benchmark side is a tiny fraction of the corpus (one held-out
    source) and AQE broadcasts it when it fits, turning the whole check into
    a map-side hash probe over the training scan. Never all-pairs.
    """
    from pyspark import StorageLevel

    grams = dd.gram_hash_rows(
        load_table(spark, sf_dir, "documents"),
        n=CONTAM_N, keep=("source",),
    ).dropDuplicates(["doc_id", "h"])
    grams = grams.withColumn(
        "n_grams",
        F.count("*").over(Window.partitionBy("doc_id")).cast("bigint"))
    # benchmark and train sides both read the gram index — materialize the
    # explode+md5+dedup pass once instead of per side
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    bench = (grams.where(F.col("source") == BENCHMARK_SOURCE)
             .select("h").distinct())
    train = grams.where(F.col("source") != BENCHMARK_SOURCE)
    return (
        train.join(bench, "h")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("*").alias("n_contaminated"))
        .select(
            "doc_id", "n_grams", "n_contaminated",
            (F.col("n_contaminated") / F.col("n_grams").cast("double"))
            .alias("contamination"),
        )
    )


@register(
    "repetition_ratio",
    """WITH g AS (
  SELECT doc_id,
    str_split(text, ' ') AS toks,
    CASE WHEN len(str_split(text, ' ')) >= 2 THEN
      list_transform(range(1, len(str_split(text, ' '))),
        i -> str_split(text, ' ')[CAST(i AS INT)] || ' ' ||
             str_split(text, ' ')[CAST(i + 1 AS INT)])
    ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM documents
)
SELECT doc_id,
  len(grams) AS n_grams,
  len(list_distinct(grams)) AS n_uniq_grams,
  CASE WHEN len(grams) > 0
       THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
       ELSE 0.0 END AS gram_rep_ratio,
  1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS tok_rep_ratio,
  CAST(CASE WHEN len(grams) > 0 AND
    1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE) > 0.2
    THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM g""",
    doc="Gopher-style repetition gate: duplicate word-2-gram and duplicate "
        "token fractions per document, flagging docs above 20% gram "
        "repetition",
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition features — the Gopher/C4 'repetitive
    content' quality gate.

    Pure per-row Column expressions: no shuffle, pipelines into the parquet
    scan stage. A 2-gram is the pair (tok[i], tok[i+1]): built with
    slice + arrays_zip (both whole-stage-codegen'd) instead of a
    transform(...) lambda (interpreted per element, ~6x slower measured at
    sf0.1). Tokens are space-split so they contain no spaces, making
    struct-pair distinctness equal to the oracle's "a b" string-gram
    distinctness. Per-row cost is O(tokens), embarrassingly parallel.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n_tok - 1), F.slice(toks, 2, n_tok - 1))
    n_g = F.when(n_tok >= 2, n_tok - 1).otherwise(F.lit(0))
    n_ug = F.when(
        n_tok >= 2, F.size(F.array_distinct(pairs))).otherwise(F.lit(0))
    d = docs.select(
        "doc_id",
        n_g.cast("bigint").alias("n_grams"),
        n_ug.cast("bigint").alias("n_uniq_grams"),
        F.size(toks).cast("bigint").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq_toks"),
    )
    gram_rep = F.when(
        F.col("n_grams") > 0,
        F.lit(1.0) - F.col("n_uniq_grams") / F.col("n_grams").cast("double"),
    ).otherwise(F.lit(0.0))
    tok_rep = (F.lit(1.0)
               - F.col("n_uniq_toks") / F.col("n_toks").cast("double"))
    return d.select(
        "doc_id",
        "n_grams",
        "n_uniq_grams",
        gram_rep.alias("gram_rep_ratio"),
        tok_rep.alias("tok_rep_ratio"),
        (gram_rep > 0.2).cast("bigint").alias("flagged"),
    )


#: Per-source sampling rates (percent) keyed by source-number mod 3 — a
#: stand-in for the per-domain mixture a real pipeline configures.
SAMPLE_RATES = (10, 25, 40)


@register(
    "stratified_sample",
    f"""WITH r AS (
  SELECT doc_id, source,
    {dd.sql_hash60("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
    CASE CAST(regexp_extract(source, '[0-9]+') AS INT) % 3
      WHEN 0 THEN {SAMPLE_RATES[0]}
      WHEN 1 THEN {SAMPLE_RATES[1]}
      ELSE {SAMPLE_RATES[2]} END AS rate
  FROM documents
)
SELECT doc_id, source, bucket, CAST(rate AS BIGINT) AS rate
FROM r WHERE bucket < rate""",
    doc="deterministic stratified sampling: md5-derived per-doc bucket vs a "
        "per-source rate — reproducible downsampling for mixture control",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source subsample: keep a doc iff its md5-derived
    bucket (stable across runs, engines, and cluster sizes — unlike
    `rand()`/`TABLESAMPLE`) falls under the source's configured rate.

    Zero shuffle: a pure filter that pipelines with the scan, so sampling
    100 TB costs one pass and the kept fraction is exact-in-expectation per
    stratum. The same bucket expression reproduces the identical sample on
    any engine — the property training pipelines need for auditability.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = dd.hash60(
        F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 100
    rate_key = F.regexp_extract(F.col("source"), "[0-9]+", 0).cast("int") % 3
    rate = (F.when(rate_key == 0, SAMPLE_RATES[0])
            .when(rate_key == 1, SAMPLE_RATES[1])
            .otherwise(SAMPLE_RATES[2]))
    return (
        docs.select(
            "doc_id", "source",
            bucket.alias("bucket"),
            rate.cast("bigint").alias("rate"),
        )
        .where(F.col("bucket") < F.col("rate"))
    )


@register(
    "source_mixing_weights",
    """WITH per_source AS (
  SELECT source,
    COUNT(*) AS n_docs,
    SUM(len(str_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS token_share
FROM per_source""",
    doc="data-mixture accounting: per-source doc/token totals and each "
        "source's share of the corpus token budget",
)
def q_source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget shares — the input to mixture-weight tuning.

    One groupBy(source) with map-side partial aggregation (counts and token
    sums combine associatively), then a window over the tiny aggregated
    result (#sources rows) for the global share. The expensive pass is the
    linear scan; the unpartitioned window touches only #sources rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per.select(
        "source", "n_docs", "n_tokens",
        (F.col("n_tokens").cast("double") / total).alias("token_share"),
    )


@register(
    "vocab_top_tokens",
    """SELECT tok, COUNT(*) AS n_occurrences
FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
GROUP BY tok ORDER BY n_occurrences DESC, tok LIMIT 50""",
    doc="corpus vocabulary head: global token histogram, top 50 by "
        "occurrence — the first step of tokenizer/vocab construction",
)
def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequency top-k.

    Explode + groupBy(token): the explode pipelines with the scan, the
    aggregation combines map-side (per-split partial counts), and the final
    top-50 is TakeOrderedAndProject — driver receives k rows, never the
    vocabulary. Token is a high-cardinality key, so the one shuffle spreads;
    a pathological single-token corpus is AQE-skew-split territory.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("tok"))
        .limit(50)
    )


#: Context-window capacity (tokens) for sequence packing.
CONTEXT_TOKENS = 512


@register(
    "sequence_packing",
    f"""WITH t AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, source, n_tokens,
    COALESCE(SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(start_offset AS BIGINT) AS start_offset,
  CAST(start_offset // {CONTEXT_TOKENS} AS BIGINT) AS seq_index
FROM o""",
    doc="token-stream sequence packing: each doc's start offset and "
        "context-window index in the concatenated per-source token stream "
        "(the concat-and-chunk packing LLM pretraining uses)",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document its position in the packed training stream:
    docs are concatenated per source in doc_id order and split into
    fixed-capacity context windows; a doc's seq_index is the window its
    first token lands in.

    One shuffle on source, then a running-sum window within each source
    partition — the sort is per-partition, never global. The assignment is
    fully deterministic (ordering key, capacity, and token count are all
    exact integers), so the same corpus packs identically on any cluster
    size or engine — the reproducibility property training runs need.
    At 100 TB the source partitions are large; a production variant adds a
    (source, shard) sub-key to bound partition width, which only relabels
    window ids per shard.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    t = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return (
        t.withColumn("start_offset", start)
        .withColumn("seq_index",
                    F.expr(f"start_offset div {CONTEXT_TOKENS}"))
    )


@register(
    "bpe_merge_candidates",
    """WITH t AS (SELECT str_split(text, ' ') AS toks FROM documents),
ix AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t
       WHERE len(toks) >= 2),
p AS (SELECT toks[CAST(i AS INT)] AS tok_a,
             toks[CAST(i + 1 AS INT)] AS tok_b FROM ix)
SELECT tok_a, tok_b, COUNT(*) AS n_occurrences
FROM p GROUP BY tok_a, tok_b
ORDER BY n_occurrences DESC, tok_a, tok_b LIMIT 50""",
    doc="BPE-style merge candidates: the corpus-wide top adjacent token "
        "pairs by occurrence — the statistic each BPE/WordPiece merge "
        "iteration maximizes",
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global adjacent-pair frequencies, top 50 — one iteration of
    the tokenizer-training inner loop (find the most frequent pair).

    The pair stream comes from slice+arrays_zip over the token array
    (whole-stage codegen, no interpreted lambda), explodes inline with the
    scan, and aggregates with map-side partial counts on the
    high-cardinality (tok_a, tok_b) key; the top-50 is a
    TakeOrderedAndProject heap, so the driver never sees the full pair
    vocabulary. One shuffle total at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    t = (docs.where(n_tok >= 2)
         .select(F.slice(toks, 1, n_tok - 1).alias("a1"),
                 F.slice(toks, 2, n_tok - 1).alias("a2")))
    pairs = (t.select(F.explode(F.arrays_zip("a1", "a2")).alias("p"))
             .select(F.col("p.a1").alias("tok_a"),
                     F.col("p.a2").alias("tok_b")))
    return (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "tok_a", "tok_b")
        .limit(50)
    )


@register(
    "perplexity_score",
    """WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
scored AS (
  SELECT tok, c,
    CAST(FLOOR(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * (-1000000.0))
         AS BIGINT) AS nll_e6
  FROM vocab, tot
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_toks,
  CAST(SUM(s.nll_e6) AS BIGINT) AS nll_e6_sum,
  CAST(SUM(s.nll_e6) AS BIGINT) // COUNT(*) AS avg_nll_e6
FROM tok JOIN scored s USING (tok)
GROUP BY doc_id""",
    doc="unigram-LM perplexity scoring: per-document mean negative "
        "log-likelihood under the corpus's own unigram model — the "
        "CCNet/CC-style LM quality filter",
)
def q_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc negative log-likelihood under a corpus-fit unigram LM.

    Scale shape: the model fit is one explode + groupBy(token) — vocabulary
    is orders of magnitude smaller than the corpus, so the per-token score
    table broadcasts (AQE decides; no explicit hint since a 100 TB corpus
    can push vocab past the threshold, at which point the shuffle join on
    the high-cardinality token key is the right fallback). The per-token
    NLL is floored to integer 1e-6 units BEFORE the per-doc SUM, so the
    aggregate is order-independent and cross-engine exact; only ln() itself
    is engine-native (Java Math.log vs libm, both within 1 ulp — the e6
    floor absorbs that except at astronomically unlikely boundaries).
    The one-row total joins in as a broadcast; the fact-side token stream
    is scanned once.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # Both the corpus total and the per-token score table consume the
    # fitted vocab, and Spark does not share the subtree across the two
    # references — unpersisted, the CORPUS gets re-scanned and re-exploded
    # for each (verified in the plan: three documents scans instead of
    # two). The vocab is |V| rows — tiny next to the corpus — so caching
    # it is the 100 TB-correct trade.
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    tot = vocab.agg(F.sum("c").cast("bigint").alias("t"))
    scored = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(F.log(F.col("c").cast("double") / F.col("t").cast("double"))
                * (-1000000.0)).cast("bigint").alias("nll_e6"),
    )
    return (
        tok.join(scored, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_toks"),
             F.sum("nll_e6").cast("bigint").alias("nll_e6_sum"))
        .select("doc_id", "n_toks", "nll_e6_sum",
                F.expr("nll_e6_sum div n_toks").alias("avg_nll_e6"))
    )


def _lang_scores_sql() -> str:
    return ", ".join(
        f"{tx.sql_stopword_hits(lang)} AS score_{lang}" for lang in tx.LANGS)


@register(
    "lang_mismatch",
    f"""WITH s AS (
  SELECT doc_id, lang, {_lang_scores_sql()}
  FROM documents
), m AS (
  SELECT *, GREATEST({', '.join('score_' + lang for lang in tx.LANGS)}) AS mx
  FROM s
), p AS (
  SELECT lang,
    CASE {' '.join(f"WHEN score_{lang} = mx THEN '{lang}'" for lang in tx.LANGS)}
    END AS pred_lang
  FROM m
)
SELECT lang, pred_lang, COUNT(*) AS n_docs
FROM p GROUP BY lang, pred_lang""",
    doc="metadata validation: declared-vs-predicted language confusion "
        "counts — surfaces mislabeled partitions before mixture weighting",
)
def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the declared ``lang`` column and the
    stopword-profile language ID.

    The per-doc prediction is a pure Column map (zero shuffle, codegen);
    the confusion matrix is one groupBy over a #langs x #langs key space —
    map-side partials collapse each split to at most 25 rows, so the
    shuffle moves kilobytes regardless of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", *[c.cast("bigint").alias(f"score_{lang}")
                  for lang, c in zip(tx.LANGS, tx.lang_scores("text"))])
    score_cols = {lang: F.col(f"score_{lang}") for lang in tx.LANGS}
    return (
        scored.withColumn("pred_lang", tx.lang_pred(score_cols))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "source_quality_stats",
    f"""SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(CAST(FLOOR(({tx.sql_quality()}) * 1000000.0) AS BIGINT)) AS BIGINT)
    // COUNT(*) AS mean_quality_e6,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents
GROUP BY source""",
    doc="source-curation dashboard: per-source doc/token/char totals, mean "
        "quality (integer e6), and language diversity — the table a data "
        "curator reads before setting mixture weights",
)
def q_source_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus curation statistics.

    One groupBy(source) with map-side partial aggregation; the per-doc
    quality double is floored to integer e6 units BEFORE summation so the
    mean is order-independent (summing raw doubles would be
    permutation-sensitive and fail cross-engine). COUNT(DISTINCT lang)
    expands to the standard two-phase distinct over a tiny
    (source, lang) key space.
    """
    docs = load_table(spark, sf_dir, "documents")
    q = tx.quality_score("text")["quality"]
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.floor(q * 1000000.0).cast("bigint"))
            .cast("bigint").alias("q_e6_sum"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .select("source", "n_docs", "n_tokens", "total_chars",
                F.expr("q_e6_sum div n_docs").alias("mean_quality_e6"),
                "n_langs")
    )


@register(
    "token_ids",
    """WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok,
         generate_subscripts(str_split(text, ' '), 1) AS pos
  FROM documents
),
vocab AS (
  SELECT tok,
    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) - 1 AS token_id
  FROM tok GROUP BY tok
)
SELECT doc_id, pos, tok, token_id FROM tok JOIN vocab USING (tok)""",
    doc="dictionary-encoding tokenization: frequency-ranked vocabulary ids "
        "assigned to every token position — the final tokenize step that "
        "turns the curated corpus into model input",
)
def q_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map every token position to its frequency-ranked vocabulary id
    (rank 0 = most frequent; ties broken by token string, so the id
    assignment is deterministic across engines and cluster sizes).

    Scale shape: fit-then-encode, like the LM scorer — one explode +
    groupBy(token) fits the vocabulary (|V| rows, orders of magnitude
    smaller than the corpus), the id ranking is a window over those |V|
    rows only (never the corpus; at web scale this global sort of a
    few-million-row vocab is still a single cheap stage), and the encode
    pass joins the token stream against the vocab on the
    high-cardinality token key — AQE broadcasts the vocab when it fits.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    vocab = (
        tok.groupBy("tok").agg(F.count("*").alias("c"))
        .select(
            "tok",
            (F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("tok"))) - 1)
            .cast("bigint").alias("token_id"),
        )
    )
    return tok.join(vocab, "tok").select("doc_id", "pos", "tok", "token_id")


# --- exact-substring dedup at n-gram granularity ---------------------------

#: Gram width for substring-level dedup. Real pipelines use ~50-token spans
#: (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
#: Better"); the synthetic docs are ~30-50 tokens so 8 keeps spans meaningful.
SUBSTR_N = 8


@register(
    "exact_substring_dup",
    f"""WITH g AS (
  SELECT DISTINCT doc_id, unnest({dd.sql_word_shingle_hashes('text', SUBSTR_N)}) AS h
  FROM documents
),
o AS (SELECT h, COUNT(*) AS nd FROM g GROUP BY h)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
    // COUNT(*) AS shared_ppm
FROM g JOIN o USING (h)
GROUP BY doc_id""",
    doc="exact substring dedup at 8-gram granularity: spans appearing in "
        ">=2 documents are duplicated text (Lee et al. 2022 exact-substring "
        "dedup, at rolling-hash resolution); per-doc duplicated-span share "
        "in ppm",
)
def q_exact_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring share via shared 8-gram spans.

    Scale shape (all linear, no pair join anywhere): explode rolling 8-gram
    hashes (codegen'd concat+md5 per row), distinct per (doc, gram), one
    groupBy(gram) to count owning docs, join the gram ownership back on the
    SAME gram key (the groupBy output is already hash-partitioned on ``h``,
    so only the probe side shuffles), and a final groupBy(doc). This is the
    n-gram-resolution form of suffix-array exact-substring dedup — the
    suffix array itself does not distribute, the rolling-hash form is one
    shuffle per stage at any corpus size. Integer ppm via exact div.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # ownership aggregate and per-doc probe both read the gram index —
    # materialize the explode+md5+dedup pass once
    g = dd.gram_hash_rows(docs, n=SUBSTR_N).dropDuplicates(["doc_id", "h"])         .persist(StorageLevel.MEMORY_AND_DISK)
    owners = g.groupBy("h").agg(F.count("*").alias("nd"))
    return (
        g.join(owners, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("bigint").alias("n_shared"),
        )
        .select(
            "doc_id", "n_grams", "n_shared",
            F.expr("(n_shared * 1000000) div n_grams").alias("shared_ppm"),
        )
    )


# --- curriculum binning by exact quality tertiles --------------------------

@register(
    "quality_tertiles",
    f"""WITH d AS (
  SELECT doc_id,
         CAST(FLOOR(({tx.sql_quality('text')}) * 1000000.0) AS BIGINT) AS q_e6
  FROM documents
),
dist AS (SELECT q_e6, COUNT(*) AS c FROM d GROUP BY q_e6),
cum AS (SELECT q_e6, SUM(c) OVER (ORDER BY q_e6) AS cum FROM dist),
tot AS (SELECT COUNT(*) AS n FROM d),
cut AS (SELECT MIN(CASE WHEN cum * 3 >= n THEN q_e6 END) AS c1,
               MIN(CASE WHEN cum * 3 >= 2 * n THEN q_e6 END) AS c2
        FROM cum, tot)
SELECT doc_id, q_e6,
  CAST(CASE WHEN q_e6 <= c1 THEN 0 WHEN q_e6 <= c2 THEN 1 ELSE 2 END
       AS BIGINT) AS bucket
FROM d, cut""",
    doc="curriculum binning: exact quality tertiles via a cumulative "
        "distribution over DISTINCT score values — never a global sort or "
        "ntile over the corpus",
)
def q_quality_tertiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document to an exact quality tertile.

    The naive form — ``ntile(3) OVER (ORDER BY quality)`` — is a global
    sort of the corpus into ONE window partition: a scale-killer. Instead
    the cutoffs come from a cumulative count over the DISTINCT e6-floored
    score values (bounded cardinality, independent of corpus size): one
    small aggregate, a single-partition window over |distinct scores| rows,
    and a two-value broadcast back onto the corpus — the per-doc pass is a
    zero-shuffle map. Cutoffs are exact (min value whose cumulative count
    reaches N/3), not approximate percentiles, so results are
    cross-engine identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    q_e6 = F.floor(tx.quality_score("text")["quality"] * 1000000.0) \
        .cast("bigint")
    d = docs.select("doc_id", q_e6.alias("q_e6"))
    dist = d.groupBy("q_e6").agg(F.count("*").alias("c"))
    cum = dist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("q_e6")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    tot = d.agg(F.count("*").alias("n"))
    cut = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("q_e6")))
        .alias("c1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("q_e6")))
        .alias("c2"),
    )
    return d.crossJoin(F.broadcast(cut)).select(
        "doc_id", "q_e6",
        F.when(F.col("q_e6") <= F.col("c1"), 0)
        .when(F.col("q_e6") <= F.col("c2"), 1)
        .otherwise(2).cast("bigint").alias("bucket"),
    )


# --- DSIR-style importance weighting ---------------------------------------

#: In-domain target for importance weighting (hash-stratified synthetic
#: sources make any single source a usable stand-in for "target domain").
DSIR_TARGET_SOURCE = "src0"


@register(
    "dsir_importance",
    f"""WITH tok AS (
  SELECT doc_id, source, unnest(str_split(text, ' ')) AS tok FROM documents
),
cv AS (
  SELECT tok, COUNT(*) AS cc,
         SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS ct
  FROM tok GROUP BY tok
),
tots AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc, CAST(SUM(ct) AS BIGINT) AS nt,
                CAST(COUNT(*) AS BIGINT) AS v
         FROM cv),
scored AS (
  SELECT tok,
    CAST(FLOOR(ln(((CAST(ct AS DOUBLE) + 1.0) / CAST(nt + v AS DOUBLE))
                  / (CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))) * 1000000.0)
         AS BIGINT) AS lr_e6
  FROM cv, tots
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_toks,
  CAST(SUM(s.lr_e6) AS BIGINT) AS lr_e6_sum,
  CAST(SUM(s.lr_e6) AS BIGINT) // COUNT(*) AS avg_lr_e6
FROM tok JOIN scored s USING (tok)
GROUP BY doc_id""",
    doc="DSIR-style importance weights: per-doc unigram log-likelihood "
        "ratio of an in-domain target LM (add-1 smoothed) vs the corpus "
        "LM (Xie et al. 2023, Data Selection via Importance Resampling)",
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weight of every document toward a target domain.

    Scale shape (round 13): the corpus token stream is exploded ONCE into
    per-doc token COUNTS (doc_id, tok, c) — one map-side-combined
    aggregate — and everything else runs on that table: the vocab fit is
    a second-level rollup (sum of group counts == count over
    occurrences), and the scoring join probes |doc x distinct-token|
    rows instead of every token occurrence, weighting by c
    (sum over occurrences of lr == sum over distinct toks of c*lr — lr
    is an integer, so the regroup is exact). The per-token log-ratio is
    floored to integer 1e-6 units before the per-doc SUM
    (order-independent, cross-engine exact; ln() itself is within 1 ulp
    on both engines and the floor absorbs it). AQE broadcasts the vocab
    when it fits. Interleaved A/B at sf0.1: 0.62 -> 0.52 s, one explode
    pass instead of two, rows verified equal.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
    # source is constant per doc, so min() over the group is that value
    dt = (tok.groupBy("doc_id", "tok")
          .agg(F.count("*").alias("c"), F.min("source").alias("source"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    cv = (
        dt.groupBy("tok").agg(
            F.sum("c").alias("cc"),
            F.sum(F.when(F.col("source") == DSIR_TARGET_SOURCE, F.col("c"))
                  .otherwise(0)).alias("ct"),
        )
        # Totals and per-token scores both consume the fitted vocab; without
        # materialization the count table is re-aggregated per reference
        # (the perplexity_score lesson). |V| rows — tiny next to the corpus.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tots = cv.agg(
        F.sum("cc").cast("bigint").alias("nc"),
        F.sum("ct").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("v"),
    )
    scored = cv.crossJoin(F.broadcast(tots)).select(
        "tok",
        F.floor(
            F.log(
                ((F.col("ct").cast("double") + 1.0)
                 / (F.col("nt") + F.col("v")).cast("double"))
                / (F.col("cc").cast("double") / F.col("nc").cast("double"))
            ) * 1000000.0
        ).cast("bigint").alias("lr_e6"),
    )
    return (
        dt.join(scored, "tok")
        .groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("n_toks"),
             F.sum(F.col("c") * F.col("lr_e6")).cast("bigint")
             .alias("lr_e6_sum"))
        .select("doc_id", "n_toks", "lr_e6_sum",
                F.expr("lr_e6_sum div n_toks").alias("avg_lr_e6"))
    )


# --- Gopher-rule document filter audit -------------------------------------

#: Gopher-style document filter thresholds (Rae et al. 2021, appendix A1.1),
#: scaled to the synthetic ~30-50-token docs: token-count window, mean word
#: length window, max stopword-free fraction.
GOPHER_MIN_TOKENS = 10
GOPHER_MAX_TOKENS = 1000
GOPHER_MIN_WORDLEN_E3 = 2000   # mean word length >= 2.0 chars (e3 units)
GOPHER_MAX_WORDLEN_E3 = 12000  # mean word length <= 12.0 chars
GOPHER_MIN_STOP_HITS = 1       # at least one stopword occurrence


@register(
    "gopher_filter_stats",
    f"""WITH f AS (
  SELECT doc_id, source,
    len(str_split(text, ' ')) AS n_tok,
    CAST(FLOOR((length(text) - (len(str_split(text, ' ')) - 1)) * 1000.0
               / len(str_split(text, ' '))) AS BIGINT) AS wordlen_e3,
    {tx.sql_stopword_hits('en')} AS stop_hits
  FROM documents
),
r AS (
  SELECT doc_id, source,
    CAST(n_tok < {GOPHER_MIN_TOKENS} OR n_tok > {GOPHER_MAX_TOKENS} AS INT)
      AS r_len,
    CAST(wordlen_e3 < {GOPHER_MIN_WORDLEN_E3}
         OR wordlen_e3 > {GOPHER_MAX_WORDLEN_E3} AS INT) AS r_wordlen,
    CAST(stop_hits < {GOPHER_MIN_STOP_HITS} AS INT) AS r_stop
  FROM f
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(r_len) AS BIGINT) AS n_reject_len,
  CAST(SUM(r_wordlen) AS BIGINT) AS n_reject_wordlen,
  CAST(SUM(r_stop) AS BIGINT) AS n_reject_stop,
  CAST(SUM(CASE WHEN r_len = 0 AND r_wordlen = 0 AND r_stop = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM r GROUP BY source""",
    doc="Gopher-rule filter audit (Rae et al. 2021 A1.1): per-source "
        "rejection counts by rule (token-count window, mean word length "
        "window, stopword presence) plus survivors",
)
def q_gopher_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the Gopher document-filter rules.

    Pure per-row rule evaluation (codegen'd, zero joins) + ONE aggregation
    shuffle on the low-cardinality source key with map-side partials —
    the audit dashboards run before committing a filter config at 100 TB.
    Mean word length is floored to e3 integer units so the rule compare is
    cross-engine exact (text is single-space joined: total word chars =
    len - (n_tok - 1)).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    wordlen_e3 = F.floor(
        (F.length("text") - (n_tok - 1)) * 1000.0 / n_tok).cast("bigint")
    stop_hits = tx.stopword_hits("text", tx.STOPWORDS["en"])
    r_len = ((n_tok < GOPHER_MIN_TOKENS) | (n_tok > GOPHER_MAX_TOKENS))
    r_wordlen = ((wordlen_e3 < GOPHER_MIN_WORDLEN_E3)
                 | (wordlen_e3 > GOPHER_MAX_WORDLEN_E3))
    r_stop = stop_hits < GOPHER_MIN_STOP_HITS
    kept = ~r_len & ~r_wordlen & ~r_stop
    return (
        docs.select("source", r_len.cast("int").alias("r_len"),
                    r_wordlen.cast("int").alias("r_wordlen"),
                    r_stop.cast("int").alias("r_stop"),
                    kept.cast("int").alias("r_kept"))
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("r_len").cast("bigint").alias("n_reject_len"),
             F.sum("r_wordlen").cast("bigint").alias("n_reject_wordlen"),
             F.sum("r_stop").cast("bigint").alias("n_reject_stop"),
             F.sum("r_kept").cast("bigint").alias("n_kept"))
    )


# --- intra-document n-gram repetition (Gopher repetition signals) ----------

_REP_GRAM = ("tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)] || ' ' || "
             "tk[CAST(i + 2 AS INT)]")


@register(
    "doc_repetition_stats",
    f"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT doc_id, {dd.sql_hash60(f'({_REP_GRAM})')} AS h
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
        FROM t WHERE len(tk) >= 3)
),
pc AS (SELECT doc_id, h, COUNT(*) AS c FROM g GROUP BY doc_id, h)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS total_grams,
  CAST(COUNT(*) AS BIGINT) AS distinct_grams,
  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_occurrences,
  CAST((SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000) // SUM(c)
       AS BIGINT) AS rep_e6
FROM pc GROUP BY doc_id""",
    doc="per-document word-3-gram repetition profile (the Gopher "
        "duplicate-n-gram quality signals, Rae et al. 2021 A1.2): total / "
        "distinct gram occurrences, occurrences belonging to repeated "
        "grams, and the repeated fraction in e6 integer units — the "
        "intra-doc complement of the corpus-level dedup family",
)
def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition census.

    Scale shape: gram explode is a zero-join codegen'd projection
    (dedup.gram_hash_rows — the same pass MinHash rides); both
    aggregations key on doc_id(+gram hash), so the single shuffle is
    doc-sized with map-side partials and nothing is corpus-global.
    rep_e6 uses integer division (positive operands: Spark DIV and
    DuckDB // agree) so the fraction is cross-engine exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    ex = dd.gram_hash_rows(docs)
    pc = ex.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    dup = F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
    return (
        pc.groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("total_grams"),
             F.count("*").cast("bigint").alias("distinct_grams"),
             dup.cast("bigint").alias("dup_occurrences"))
        .withColumn("rep_e6",
                    F.expr("dup_occurrences * 1000000 DIV total_grams")
                    .cast("bigint"))
    )


# --- cross-source near-dup overlap matrix ----------------------------------

@register(
    "cross_source_overlap",
    f"""WITH {_MINHASH_CTES},
scored AS (
  SELECT doc_a, doc_b FROM wsig
  WHERE len(list_filter(range(1, {dd.MINHASH_K + 1}),
        i -> sig_a[CAST(i AS INT)] = sig_b[CAST(i AS INT)])) >= 8
),
lab AS (
  SELECT s.doc_a, s.doc_b, da.source AS src_a, db.source AS src_b
  FROM scored s
  JOIN documents da ON da.doc_id = s.doc_a
  JOIN documents db ON db.doc_id = s.doc_b
)
SELECT LEAST(src_a, src_b) AS source_x,
       GREATEST(src_a, src_b) AS source_y,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY 1, 2""",
    doc="cross-source contamination matrix: near-dup pair counts (MinHash "
        "est. jaccard >= 0.5) keyed by unordered source pair — which feeds "
        "leak between corpus sources",
)
def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts between corpus sources.

    Reuses the MinHash LSH candidate machinery (equality join on banded
    buckets — never all-pairs); the doc->source attribution joins the
    tiny pair set back to the corpus on doc_id, which AQE broadcasts.
    The unordered (LEAST, GREATEST) source key folds the two directions
    of each pair into one matrix cell.
    """
    from tigerbeetle_cdc_nats_spark.queries_dedup import (
        corpus_minhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = corpus_minhash_pairs(spark, sf_dir).where(
        F.col("est_jaccard") >= 0.5).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(src.select(F.col("doc_id").alias("doc_a"),
                              F.col("source").alias("src_a")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"),
                         F.col("source").alias("src_b")), "doc_b")
    )
    return (
        lab.select(F.least("src_a", "src_b").alias("source_x"),
                   F.greatest("src_a", "src_b").alias("source_y"))
        .groupBy("source_x", "source_y")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


#: Passage-chunking geometry: 32-word windows advancing 24 words (8-word
#: overlap). Real RAG/pretraining chunkers use 256-1024 tokens; the synthetic
#: docs are ~50 words, so 32/24 yields 2-3 chunks per doc and exercises both
#: the overlap and the short-tail edge.
CHUNK_W = 32
CHUNK_STRIDE = 24


@register(
    "passage_chunking",
    f"""WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents
),
s AS (
  SELECT doc_id, words,
         unnest(generate_series(0, len(words) - 1, {CHUNK_STRIDE})) AS start
  FROM w
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start_word,
       CAST(LEAST({CHUNK_W}, len(words) - start) AS BIGINT) AS n_chunk_words,
       array_to_string(words[start + 1 : start + {CHUNK_W}], ' ')
         AS chunk_text
FROM s""",
    doc="RAG/pretraining passage chunking: sliding word windows "
        f"(W={CHUNK_W}, stride={CHUNK_STRIDE}, overlap "
        f"{CHUNK_W - CHUNK_STRIDE}) with per-chunk offsets — the 1->N doc "
        "-> passage fan-out every retrieval corpus build runs",
)
def q_passage_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode each document into overlapping word-window passages.

    Scale shape: split -> sequence -> explode -> slice is a pure per-row
    JVM pipeline — zero shuffle, whole-stage codegen, and the fan-out
    factor (~n_words/stride) is bounded per row, so executor memory stays
    flat no matter the corpus size. Emitting (doc_id, chunk_id, offsets)
    keeps chunks joinable back to their source doc for provenance, and the
    chunk rows feed directly into the dedup/embedding stages
    (exact_dedup/knn run unchanged on chunk_text).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(0), F.size(words) - 1, F.lit(CHUNK_STRIDE))
    return (
        docs.select("doc_id", words.alias("words"),
                    F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.col("start").cast("bigint").alias("start_word"),
            F.least(F.lit(CHUNK_W), F.size("words") - F.col("start"))
            .cast("bigint").alias("n_chunk_words"),
            F.array_join(F.slice("words", F.col("start") + 1, CHUNK_W), " ")
            .alias("chunk_text"),
        )
    )


#: Heavy-hitter threshold: report tokens whose exact global count exceeds
#: total_tokens / HH_K. The Misra-Gries summaries are sized to this k, which
#: is what makes the candidate set provably complete (see query docstring).
#: 30 sits just under the synthetic corpus's ~1/31-uniform token shares, so
#: the filter genuinely discriminates (some tokens pass, some don't).
HH_K = 30


@register(
    "heavy_hitters",
    f"""WITH toks AS (
  SELECT unnest(str_split(text, ' ')) AS tok FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM toks),
cnts AS (SELECT tok, COUNT(*) AS n_occurrences FROM toks GROUP BY tok)
SELECT c.tok, c.n_occurrences
FROM cnts c, tot t
WHERE c.n_occurrences * {HH_K} > t.n""",
    doc=f"heavy hitters: tokens with exact frequency > 1/{HH_K} of the "
        "corpus, found via per-partition Misra-Gries summaries + exact "
        "recount of the candidate union — the mergeable-sketch pattern "
        "that replaces a full-vocabulary shuffle at corpus scale",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token detection with a sketch-then-verify plan.

    Scale shape: the naive plan shuffles the ENTIRE vocabulary histogram
    (billions of distinct tokens at 100 TB) to answer a question about the
    ~k most frequent ones. Here each input partition builds a bounded
    Misra-Gries summary (capacity k, Arrow-batched via mapInPandas, state
    carried across batches within the partition), so the only full-data
    shuffle is the recount of candidate tokens — and the candidate list is
    <= k x n_partitions rows, broadcast back for a map-side semi probe.
    Completeness: a token with global count > n/k has, by pigeonhole,
    count_p > n_p/k in some partition, and a capacity-k MG summary never
    evicts such a token — so the exact recount sees every true heavy
    hitter, which is why the result matches the exact oracle.
    """
    cap = HH_K  # MG guarantee needs capacity >= k - 1; use k

    def mg_partition(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, cnt in pdf["tok"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > cap:
                # bulk-decrement: subtract the (cap+1)-th largest count,
                # drop non-positives (mergeable-summaries form of MG)
                cut = sorted(counters.values(), reverse=True)[cap]
                counters = {t: c - cut for t, c in counters.items()
                            if c - cut > 0}
        yield pd.DataFrame({"tok": list(counters.keys())})

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    candidates = (toks.mapInPandas(mg_partition, "tok string")
                  .distinct())
    total = toks.agg(F.count("*").alias("n"))
    return (
        toks.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok").agg(F.count("*").alias("n_occurrences"))
        .join(F.broadcast(total))
        .where(F.col("n_occurrences") * HH_K > F.col("n"))
        .select("tok", "n_occurrences")
    )


@register(
    "chunk_dedup",
    f"""WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
s AS (
  SELECT doc_id, words,
         unnest(generate_series(0, len(words) - 1, {CHUNK_STRIDE})) AS start
  FROM w
),
chunks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(array_to_string(
           words[start + 1 : start + {CHUNK_W}], ' ')), 1, 15)) AS BIGINT)
           AS h
  FROM s
)
SELECT h,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS keeper_doc
FROM chunks
GROUP BY h
HAVING COUNT(*) > 1""",
    doc="passage-level dedup: hash every overlapping word-window chunk "
        "(same geometry as passage_chunking) and report chunks appearing "
        "more than once — the paragraph/passage analogue of exact_dedup "
        "that catches copy-paste reuse inside otherwise-distinct docs",
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated passages across (and within) documents.

    Scale shape: chunking is the same zero-shuffle per-row fan-out as
    passage_chunking; the only shuffle is the groupBy on the 60-bit chunk
    hash — high-cardinality, evenly spread, map-side combinable. Grouping
    on the hash instead of chunk_text keeps shuffle rows ~8 bytes wide
    rather than passage-sized; HAVING > 1 prunes the (dominant) unique
    mass before it reaches the driver-facing result.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(0), F.size(words) - 1, F.lit(CHUNK_STRIDE))
    chunk_text = F.array_join(
        F.slice("words", F.col("start") + 1, CHUNK_W), " ")
    return (
        docs.select("doc_id", words.alias("words"),
                    F.explode(starts).alias("start"))
        .select("doc_id", dd.hash60(chunk_text).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_occurrences"),
             F.countDistinct("doc_id").alias("n_docs"),
             F.min("doc_id").alias("keeper_doc"))
        .where(F.col("n_occurrences") > 1)
    )


# --- normalization-aware exact dedup (C4-style) ----------------------------

#: Winnowing geometry: k-word grams, window of w consecutive gram hashes.
#: Guarantee (Schleimer et al., SIGMOD'03): any shared run of at least
#: w + k - 1 tokens between two documents shares at least one fingerprint.
WINNOW_K = 3
WINNOW_W = 4

_SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


def normalize_text(col) -> F.Column:
    """C4-style canonical form: lowercase, strip non-[a-z0-9 ], collapse
    runs of spaces, trim. Mirrors ``_SQL_NORM`` exactly (DuckDB needs the
    explicit 'g' flag; Spark's regexp_replace is global by default)."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(col), "[^a-z0-9 ]", ""), " +", " "))


def winnow_fingerprints(docs: DataFrame, *, k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """Distinct winnowed fingerprints per document: (doc_id, wm) rows where
    ``wm`` is the min word-k-gram hash of some window of ``w`` consecutive
    grams. See q_winnowing_fingerprint for the scale shape."""
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]))
    g = (
        docs.where(F.size(toks) >= k)
        .select("doc_id", F.posexplode(grams).alias("pos0", "gram"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                dd.hash60(F.col("gram")).alias("h"))
    )
    by_doc = Window.partitionBy("doc_id")
    wmin = (Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.currentRow, w - 1))
    return (
        g.withColumn("n_grams", F.max("pos").over(by_doc))
        .withColumn("wm", F.min("h").over(wmin))
        .where(F.col("pos") <= F.col("n_grams") - (w - 1))
        .select("doc_id", "wm").distinct()
    )


@register(
    "normalized_dedup",
    f"""WITH n AS (
  SELECT doc_id,
         length(text) - length({_SQL_NORM}) AS n_chars_removed,
         CAST(('0x' || substr(md5({_SQL_NORM}), 1, 15)) AS BIGINT) AS norm_h
  FROM documents
)
SELECT doc_id, norm_h, n_chars_removed,
       COUNT(*) OVER (PARTITION BY norm_h) AS group_size,
       MIN(doc_id) OVER (PARTITION BY norm_h) AS keeper_doc
FROM n""",
    doc="normalization-aware exact dedup (the C4/RefinedWeb 'fuzzy exact' "
        "stage): lowercase, strip non-alphanumerics, collapse whitespace, "
        "then hash-group — per-doc normalized hash, bytes the normalizer "
        "removed, and the duplicate-group size/keeper under normalization "
        "(group_size = 1 on a dup-free corpus; a doc is a drop when "
        "doc_id <> keeper_doc)",
)
def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup verdict under text *normalization* rather than
    byte equality.

    Scale shape: identical to exact_dedup — the normalization chain
    (lower -> regexp_replace x2 -> trim -> md5) is a pure per-row Column
    map inside whole-stage codegen, and the single shuffle partitions on
    the 60-bit normalized hash (high-cardinality, even) for the group-size
    window; shuffle rows are (hash, doc_id, int) — bytes, not documents —
    so the pass stays scan-dominated at 100 TB exactly like exact dedup.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    by_hash = Window.partitionBy("norm_h")
    return (
        docs.select(
            "doc_id",
            (F.length("text") - F.length(norm)).cast("bigint")
            .alias("n_chars_removed"),
            dd.hash60(norm).alias("norm_h"))
        .select(
            "doc_id", "norm_h", "n_chars_removed",
            F.count("*").over(by_hash).alias("group_size"),
            F.min("doc_id").over(by_hash).alias("keeper_doc"))
    )


#: DuckDB CTE chain producing fp(doc_id, wm) — the winnowed fingerprint
#: set; shared by winnowing_fingerprint and winnow_candidates.
_WINNOW_FP_CTE = f"""t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE len(str_split(text, ' ')) >= {WINNOW_K}
),
p AS (
  SELECT doc_id, toks, len(toks) - {WINNOW_K - 1} AS n_grams,
         unnest(range(1, len(toks) - {WINNOW_K - 2})) AS pos
  FROM t
),
g AS (
  SELECT doc_id, pos, n_grams,
         CAST(('0x' || substr(md5({' || '.join(
             f"toks[CAST(pos + {j} AS INT)]" if j == 0
             else f"' ' || toks[CAST(pos + {j} AS INT)]"
             for j in range(WINNOW_K))}), 1, 15)) AS BIGINT) AS h
  FROM p
),
w AS (
  SELECT doc_id, pos, n_grams,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS wm
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id, wm FROM w
  WHERE pos <= n_grams - {WINNOW_W - 1}
)"""


@register(
    "winnowing_fingerprint",
    f"""WITH {_WINNOW_FP_CTE}
SELECT doc_id,
       COUNT(*) AS n_fingerprints,
       MIN(wm) AS fp_min,
       MAX(wm) AS fp_max,
       bit_xor(wm) AS fp_xor
FROM fp GROUP BY doc_id""",
    doc="robust winnowing (Schleimer et al., MOSS): per-position word-3-gram "
        "hashes, min over each window of 4 consecutive hashes, distinct "
        "window-minima as the document fingerprint set — guarantees any "
        "shared run of >= w+k-1 tokens shares a fingerprint",
)
def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprint summary per document.

    Scale shape: positional gram hashing is a per-row posexplode (1 -> ~L
    fan-out, no shuffle); the window-min runs inside a single
    partitionBy(doc_id) sort — one shuffle keyed on doc_id, bounded rows
    per key (document length), no skew; the final distinct+groupBy rides
    the SAME doc_id partitioning so AQE collapses it into the existing
    exchange. Fingerprint sets (not full gram sets) are what a plagiarism/
    overlap index stores: ~2/(w+1) of the gram volume, which at 100 TB is
    the difference between indexing 100 TB and indexing ~40 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs)
    return fp.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.min("wm").alias("fp_min"),
        F.max("wm").alias("fp_max"),
        F.expr("bit_xor(wm)").alias("fp_xor"),
    )


#: Fingerprint-index hygiene: a fingerprint held by more than this many
#: documents is a corpus-wide commonplace (the inverted-index stopword
#: analogue) and generates no candidate pairs.
WINNOW_HOT_CAP = 50


@register(
    "winnow_candidates",
    f"""WITH {_WINNOW_FP_CTE},
cnt AS (SELECT wm, COUNT(*) AS n_docs FROM fp GROUP BY wm),
keep AS (SELECT wm FROM cnt WHERE n_docs BETWEEN 2 AND {WINNOW_HOT_CAP}),
sz AS (SELECT doc_id, COUNT(*) AS nfp FROM fp GROUP BY doc_id),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fp a JOIN keep k ON a.wm = k.wm
  JOIN fp b ON a.wm = b.wm AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       sa.nfp AS nfp_a, sb.nfp AS nfp_b,
       CAST(FLOOR(n_shared * 1000000.0 / LEAST(sa.nfp, sb.nfp)) AS BIGINT)
         AS overlap_e6
FROM pr
JOIN sz sa ON pr.doc_a = sa.doc_id
JOIN sz sb ON pr.doc_b = sb.doc_id
WHERE n_shared >= 2""",
    doc="winnowing-index candidate pairs (the MOSS/plagiarism-index query): "
        "docs sharing >= 2 non-commonplace fingerprints, with shared count "
        "and containment overlap vs the smaller fingerprint set",
)
def q_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from the winnowed fingerprint index.

    Scale shape: the index is the fingerprint set (~2/(w+1) of gram
    volume); candidates come from an equality self-join on the 60-bit
    fingerprint — never all-pairs. The hot-cap filter bounds per-key join
    fan-out at WINNOW_HOT_CAP docs (pairs per fingerprint <= cap^2/2), the
    same frequency pruning every inverted index applies, so candidate
    volume is O(#fingerprints * cap) worst-case and tracks true overlap in
    practice. The fp set is persisted: four consumers (two join sides,
    per-fp counts, per-doc sizes) read it, and recomputing the
    posexplode+window subtree per consumer is the round-1 double-compute
    mistake.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs).persist()
    return winnow_candidates_from_fp(fp)


@register(
    "winnow_candidates_indexed",
    f"""WITH {_WINNOW_FP_CTE},
cnt AS (SELECT wm, COUNT(*) AS n_docs FROM fp GROUP BY wm),
keep AS (SELECT wm FROM cnt WHERE n_docs BETWEEN 2 AND {WINNOW_HOT_CAP}),
sz AS (SELECT doc_id, COUNT(*) AS nfp FROM fp GROUP BY doc_id),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fp a JOIN keep k ON a.wm = k.wm
  JOIN fp b ON a.wm = b.wm AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       sa.nfp AS nfp_a, sb.nfp AS nfp_b,
       CAST(FLOOR(n_shared * 1000000.0 / LEAST(sa.nfp, sb.nfp)) AS BIGINT)
         AS overlap_e6
FROM pr
JOIN sz sa ON pr.doc_a = sa.doc_id
JOIN sz sb ON pr.doc_b = sb.doc_id
WHERE n_shared >= 2""",
    doc="winnow_candidates served from the PERSISTED fingerprint index "
        "(sources/dedup_index.py, wm-shard-partitioned, built once per "
        "corpus): identical candidates minus the per-query fingerprint "
        "rebuild (soak: alpha 0.12 vs 0.35 in-session, already faster "
        "cold at 64x)",
)
def q_winnow_candidates_indexed(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Candidate pairs from the stored winnowing fingerprint index —
    stored and fresh paths share winnow_candidates_from_fp, so results
    are byte-identical to winnow_candidates."""
    from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

    docs = load_table(spark, sf_dir, "documents")

    def stored() -> DataFrame:
        return di.winnow_candidates_from_index(
            di.read_winnow_index(spark, _winnow_path(spark, sf_dir)))

    # the computed path: an identical result in-session
    return qd.serve_stored(
        "winnow_candidates_indexed", stored,
        lambda: winnow_candidates_from_fp(winnow_fingerprints(docs)))


def winnow_candidates_from_fp(fp: DataFrame) -> DataFrame:
    """Candidate pairs from a (doc_id, wm) fingerprint set — shared by the
    in-session query above and the PERSISTED index path
    (sources/dedup_index.py), so a stored index and a fresh computation
    produce byte-identical candidates."""
    keep = (fp.groupBy("wm").agg(F.count("*").alias("n_docs"))
            .where((F.col("n_docs") >= 2)
                   & (F.col("n_docs") <= WINNOW_HOT_CAP))
            .select("wm"))
    sz = fp.groupBy("doc_id").agg(F.count("*").alias("nfp"))
    a = fp.join(keep, "wm").select(
        "wm", F.col("doc_id").alias("doc_a"))
    b = fp.select("wm", F.col("doc_id").alias("doc_b"))
    pr = (
        a.join(b, (a.wm == b.wm) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("nfp").alias("nfp_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("nfp").alias("nfp_b"))
    return (
        pr.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_shared", "nfp_a", "nfp_b",
            F.floor(F.col("n_shared") * 1000000.0
                    / F.least("nfp_a", "nfp_b")).cast("bigint")
            .alias("overlap_e6"))
    )


@register(
    "mixture_temperature",
    """WITH per AS (
  SELECT source,
         CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
s AS (
  SELECT source, n_tokens,
         CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
           AS st
  FROM per
)
SELECT source, n_tokens,
       CAST(n_tokens * 1000000 // SUM(n_tokens) OVER () AS BIGINT) AS p_e6,
       CAST(st * 1000000 // SUM(st) OVER () AS BIGINT) AS w_e6
FROM s""",
    doc="temperature-reweighted data mixture (tau = 0.5): per-source raw "
        "token share p_e6 and sqrt-temperature share w_e6 — the standard "
        "rebalancing that up-samples small sources for training mixes",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture weights at temperature tau = 0.5.

    w_i = sqrt(n_i) / sum_j sqrt(n_j), the p_i^tau reweighting every
    multilingual/multi-source training mix applies. tau = 0.5 is chosen
    deliberately: IEEE-754 requires sqrt to be correctly rounded (unlike
    pow/exp/ln, which differ by ULPs across libm implementations), and the
    shares are formed with integer floor-divisions, so the result is
    bit-identical cross-engine. Integer bounds: n_tokens * 1e6 needs
    n_tokens < 9.2e12 per source — at larger budgets, scale the e6 factor
    down (weights need 6 digits, not the token count).

    Scale shape: one groupBy(source) with map-side partial aggregation
    collapses the corpus to #sources rows; the whole-table window runs on
    those few rows in a single task. Nothing corpus-sized crosses the
    second exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"))
    s = per.withColumn(
        "st", F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000)
        .cast("bigint"))
    return s.select(
        "source", "n_tokens",
        F.expr("n_tokens * 1000000 div sum(n_tokens) over ()").alias("p_e6"),
        F.expr("st * 1000000 div sum(st) over ()").alias("w_e6"),
    )


@register(
    "bottomk_sample",
    """WITH h AS (
  SELECT doc_id, source,
         md5('bk:' || CAST(doc_id AS STRING)) AS hkey
  FROM documents
), r AS (
  SELECT doc_id, source, hkey,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY hkey) AS sample_rank
  FROM h
)
SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 10""",
    doc="exact-k-per-stratum uniform sample via bottom-k-by-hash: rank over "
        "md5(doc_id) within each source, keep k=10. Deterministic and "
        "merge-free (unlike rate-based sampling, the stratum size is exact); "
        "the rank<=k filter lowers to WindowGroupLimit (per-partition "
        "top-k heaps, no full sort) — complements stratified_sample's "
        "rate-based mixture.",
)
def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "source",
        F.md5(F.concat(F.lit("bk:"), F.col("doc_id").cast("string"))
              .cast("binary")).alias("hkey"))
    w = Window.partitionBy("source").orderBy("hkey")
    return (h.withColumn("sample_rank",
                         F.row_number().over(w).cast("bigint"))
            .where(F.col("sample_rank") <= 10)
            .select("doc_id", "source", "sample_rank"))


#: Positional merge rule (exact for tok_a != tok_b, which the top-pair
#: selection enforces): a position is skipped iff its predecessor matched;
#: with a != b a matching predecessor can never itself have been skipped,
#: so the one-pass positional CASE equals greedy left-to-right BPE.
_BPE_SPARK_MERGE = (
    "filter(transform(sequence(1, size(toks)), i -> "
    "CASE WHEN i < size(toks) AND element_at(toks, i) = ta "
    "AND element_at(toks, i + 1) = tb THEN concat(ta, '_', tb) "
    "WHEN i > 1 AND element_at(toks, i - 1) = ta "
    "AND element_at(toks, i) = tb THEN NULL "
    "ELSE element_at(toks, i) END), x -> x IS NOT NULL)"
)
_BPE_DUCK_MERGE = (
    "list_filter(list_transform(range(1, len(toks) + 1), i -> "
    "CASE WHEN i < len(toks) AND toks[CAST(i AS INT)] = ta "
    "AND toks[CAST(i + 1 AS INT)] = tb THEN ta || '_' || tb "
    "WHEN i > 1 AND toks[CAST(i - 1 AS INT)] = ta "
    "AND toks[CAST(i AS INT)] = tb THEN NULL "
    "ELSE toks[CAST(i AS INT)] END), x -> x IS NOT NULL)"
)


@register(
    "bpe_apply_merge",
    """WITH t AS (SELECT str_split(text, ' ') AS toks FROM documents),
ix AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t
       WHERE len(toks) >= 2),
p AS (SELECT toks[CAST(i AS INT)] AS tok_a,
             toks[CAST(i + 1 AS INT)] AS tok_b FROM ix),
top1 AS (SELECT tok_a AS ta, tok_b AS tb FROM (
  SELECT tok_a, tok_b, COUNT(*) AS c FROM p
  WHERE tok_a != tok_b GROUP BY tok_a, tok_b
  ORDER BY c DESC, tok_a, tok_b LIMIT 1)),
m AS (SELECT """ + _BPE_DUCK_MERGE + """ AS mt FROM t, top1),
mix AS (SELECT mt, unnest(range(1, len(mt))) AS i FROM m
        WHERE len(mt) >= 2),
mp AS (SELECT mt[CAST(i AS INT)] AS tok_a,
              mt[CAST(i + 1 AS INT)] AS tok_b FROM mix)
SELECT tok_a, tok_b, COUNT(*) AS n_occurrences
FROM mp GROUP BY tok_a, tok_b
ORDER BY n_occurrences DESC, tok_a, tok_b LIMIT 20""",
    doc="one full BPE training iteration: pick the most frequent adjacent "
        "pair (ties lexicographic, self-pairs excluded so the one-pass "
        "positional merge is exactly greedy), rewrite every document's "
        "token stream with the merged symbol, and recount — the new "
        "merged token now participates in the next iteration's pair "
        "statistics. Two corpus passes, each one shuffle with map-side "
        "combine; the merge rewrite is a zero-shuffle per-row map.",
)
def q_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    t = docs.select(toks.alias("toks"))
    pairs = (t.where(F.size("toks") >= 2)
             .select(F.slice("toks", 1, F.size("toks") - 1).alias("a1"),
                     F.slice("toks", 2, F.size("toks") - 1).alias("a2"))
             .select(F.explode(F.arrays_zip("a1", "a2")).alias("pr"))
             .select(F.col("pr.a1").alias("tok_a"),
                     F.col("pr.a2").alias("tok_b")))
    top1 = (pairs.where(F.col("tok_a") != F.col("tok_b"))
            .groupBy("tok_a", "tok_b").agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "tok_a", "tok_b").limit(1)
            .select(F.col("tok_a").alias("ta"),
                    F.col("tok_b").alias("tb")))
    merged = (t.crossJoin(F.broadcast(top1))
              .select(F.expr(_BPE_SPARK_MERGE).alias("mt")))
    mpairs = (merged.where(F.size("mt") >= 2)
              .select(F.slice("mt", 1, F.size("mt") - 1).alias("a1"),
                      F.slice("mt", 2, F.size("mt") - 1).alias("a2"))
              .select(F.explode(F.arrays_zip("a1", "a2")).alias("pr"))
              .select(F.col("pr.a1").alias("tok_a"),
                      F.col("pr.a2").alias("tok_b")))
    return (mpairs.groupBy("tok_a", "tok_b")
            .agg(F.count("*").alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(), "tok_a", "tok_b")
            .limit(20))


@register(
    "training_shuffle_order",
    """WITH h AS (
  SELECT doc_id, source,
         md5('shuf:0:' || CAST(doc_id AS STRING)) AS hkey
  FROM documents
)
SELECT doc_id, source,
       ROW_NUMBER() OVER (ORDER BY hkey) AS shuffle_pos
FROM h""",
    doc="epoch-seeded deterministic global training order: every doc gets "
        "a position in a reproducible pseudo-random permutation (md5 of "
        "epoch:doc_id). Spark computes the GLOBAL numbering with the "
        "bucketed prefix-sum pattern (256 range buckets on the hash "
        "prefix) — per-bucket parallel sorts plus one 256-row offset "
        "window, never a single-task global sort; the oracle's plain "
        "ROW_NUMBER proves output equality. The shuffled-data-order step "
        "every epoch of distributed training needs.",
)
def q_training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigerbeetle_cdc_nats_spark.operators.windows import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "source",
        F.md5(F.concat(F.lit("shuf:0:"), F.col("doc_id").cast("string"))
              .cast("binary")).alias("hkey"))
    bucket = F.conv(F.substring("hkey", 1, 2), 16, 10).cast("int")
    out = global_row_number(h, ["hkey"], bucket, out_col="shuffle_pos")
    return out.select("doc_id", "source", "shuffle_pos")


@register(
    "quality_rank_normalized",
    f"""WITH d AS (
  SELECT doc_id, source,
         CAST(FLOOR(({tx.sql_quality('text')}) * 1000000.0) AS BIGINT)
           AS q_e6
  FROM documents
), r AS (
  SELECT doc_id, source, q_e6,
         RANK() OVER (PARTITION BY source ORDER BY q_e6) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM d
)
SELECT doc_id, source, q_e6,
       CAST((rk - 1) * 1000000 // n_src AS BIGINT) AS pct_rank_e6
FROM r""",
    doc="per-source rank-normalized quality: each doc's quality percentile "
        "WITHIN its source ((rank-1)/n, integer e6) — cross-source score "
        "calibration, so a threshold means the same thing for every "
        "source regardless of its raw-score distribution. One window "
        "partitioned by source (parallel across sources; within-source "
        "sort is the floor for exact ranks).",
)
def q_quality_rank_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q_e6 = F.floor(tx.quality_score("text")["quality"] * 1000000.0) \
        .cast("bigint")
    d = docs.select("doc_id", "source", q_e6.alias("q_e6"))
    w = Window.partitionBy("source").orderBy("q_e6")
    wc = Window.partitionBy("source")
    return (d.withColumn("rk", F.rank().over(w).cast("bigint"))
            .withColumn("n_src", F.count("*").over(wc))
            .select("doc_id", "source", "q_e6",
                    F.expr("CAST((rk - 1) * 1000000 DIV n_src AS BIGINT)")
                    .alias("pct_rank_e6")))


#: RAG retrieval query documents ("questions") and geometry.
RAG_QUERY_DOCS = (0, 7, 21)
_RAG_K = 5
_RAG_CAND = 20
_SHH_RAG = dd.sql_word_shingle_hashes("text")


def _rag_oracle() -> str:
    """Integer-exact lexical RAG retrieval: shingle-overlap relevance
    (coverage of the query's shingle set, e6), top-20 candidates via an
    inverted-index join, then 5 MMR steps with exact Jaccard diversity.
    Every comparison is integer, so the unrolled SQL is bit-identical to
    the grouped-Arrow MMR loop."""
    ctes = [f"""d AS (SELECT doc_id, {_SHH_RAG} AS sh FROM documents),
d2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM d WHERE len(sh) > 0),
qs AS (SELECT doc_id AS q_id, sh AS qsh, n_sh AS qn FROM d2
       WHERE doc_id IN {RAG_QUERY_DOCS}),
qx AS (SELECT q_id, unnest(qsh) AS h, qn FROM qs),
post AS (SELECT doc_id, unnest(sh) AS h FROM d2),
ov AS (SELECT q.q_id, p.doc_id AS c_id, COUNT(*) AS n_ov, MAX(q.qn) AS qn
       FROM qx q JOIN post p ON p.h = q.h AND p.doc_id != q.q_id
       GROUP BY q.q_id, p.doc_id),
cand AS (SELECT q_id, c_id,
           CAST(n_ov * 1000000 // qn AS BIGINT) AS rel FROM (
  SELECT q_id, c_id, n_ov, qn,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY n_ov DESC, c_id) AS rn
  FROM ov) WHERE rn <= {_RAG_CAND}),
ps AS (SELECT a.q_id, a.c_id AS i_id, b.c_id AS j_id,
         CAST(len(list_intersect(sa.sh, sb.sh)) * 1000000 //
              (sa.n_sh + sb.n_sh
               - len(list_intersect(sa.sh, sb.sh))) AS BIGINT) AS s_e6
       FROM cand a
       JOIN cand b ON a.q_id = b.q_id AND a.c_id != b.c_id
       JOIN d2 sa ON sa.doc_id = a.c_id
       JOIN d2 sb ON sb.doc_id = b.c_id),
sel1 AS (SELECT q_id, c_id, CAST(1 AS BIGINT) AS mmr_rank, rel FROM (
  SELECT q_id, c_id, rel,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY rel DESC, c_id) AS rn
  FROM cand) WHERE rn = 1),
selu1 AS (SELECT * FROM sel1)"""]
    for i in range(2, _RAG_K + 1):
        p = i - 1
        ctes.append(f"""sel{i} AS (
  SELECT q_id, c_id, CAST({i} AS BIGINT) AS mmr_rank, rel FROM (
    SELECT c.q_id, c.c_id, c.rel,
           ROW_NUMBER() OVER (PARTITION BY c.q_id
                              ORDER BY 2 * c.rel - mp.pen DESC,
                                       c.c_id) AS rn
    FROM cand c
    JOIN (SELECT ps.q_id, ps.j_id, MAX(ps.s_e6) AS pen
          FROM ps JOIN selu{p} s
            ON ps.q_id = s.q_id AND ps.i_id = s.c_id
          GROUP BY ps.q_id, ps.j_id) mp
      ON mp.q_id = c.q_id AND mp.j_id = c.c_id
    WHERE NOT EXISTS (SELECT 1 FROM selu{p} s2
                      WHERE s2.q_id = c.q_id AND s2.c_id = c.c_id)
  ) WHERE rn = 1),
selu{i} AS (SELECT * FROM selu{p} UNION ALL SELECT * FROM sel{i})""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT q_id, c_id, mmr_rank, rel AS rel_e6"
              f" FROM selu{_RAG_K}")


@register(
    "rag_retrieve_diverse",
    _rag_oracle(),
    doc="end-to-end lexical RAG retrieval: query docs' shingle sets probe "
        "an inverted index (posting-list equality join — the tiny query "
        "side explodes, never the corpus pairwise), relevance = coverage "
        "of the query's shingles (integer e6), top-20 candidates, then "
        "5 MMR picks with exact-Jaccard diversity. Fully integer, so the "
        "composite — retrieval, ranking, AND the iterative "
        "diversification — is oracle-checked. (BM25 scoring exists "
        "separately; this retrieval stays integer-exact so the argmax "
        "chain can't be flipped by a ULP.)",
)
def q_rag_retrieve_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigerbeetle_cdc_nats_spark.operators.similarity import mmr_rerank

    from tigerbeetle_cdc_nats_spark.queries_dedup import corpus_shingle_sets

    # shared session-memoized shingle sets (round 12) — one gram-explode
    # + collect_set pass serves this query and minhash_containment
    sets = corpus_shingle_sets(spark, sf_dir)
    qs = sets.where(F.col("doc_id").isin(list(RAG_QUERY_DOCS))).select(
        F.col("doc_id").alias("q_id"), F.col("sh").alias("qsh"),
        F.col("n_sh").alias("qn"))
    qx = qs.select("q_id", "qn", F.explode("qsh").alias("qh"))
    post = sets.select("doc_id", F.explode("sh").alias("h"))
    ov = (post.join(F.broadcast(qx),
                    (F.col("h") == F.col("qh"))
                    & (F.col("doc_id") != F.col("q_id")))
          .groupBy("q_id", "doc_id")
          .agg(F.count("*").alias("n_ov"), F.max("qn").alias("qn"))
          .select("q_id", F.col("doc_id").alias("c_id"), "n_ov", "qn"))
    w = Window.partitionBy("q_id").orderBy(F.col("n_ov").desc(), "c_id")
    cand = (ov.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _RAG_CAND)
            .select("q_id", "c_id",
                    F.expr("CAST(n_ov * 1000000 DIV qn AS BIGINT)")
                    .alias("rel"))
            .persist())
    sa = sets.select(F.col("doc_id").alias("i_id"),
                     F.col("sh").alias("sh_i"),
                     F.col("n_sh").alias("n_i"))
    sb = sets.select(F.col("doc_id").alias("j_id"),
                     F.col("sh").alias("sh_j"),
                     F.col("n_sh").alias("n_j"))
    pairs = (cand.select("q_id", F.col("c_id").alias("i_id"))
             .join(cand.select("q_id", F.col("c_id").alias("j_id")), "q_id")
             .where(F.col("i_id") != F.col("j_id"))
             .join(sa, "i_id").join(sb, "j_id")
             .withColumn("n_int",
                         F.size(F.array_intersect("sh_i", "sh_j"))
                         .cast("bigint"))
             .select("q_id", "i_id", "j_id",
                     F.expr("CAST(n_int * 1000000 DIV "
                            "(n_i + n_j - n_int) AS BIGINT)")
                     .alias("s_e6")))
    diag = cand.select("q_id", F.col("c_id").alias("i_id"),
                       F.col("c_id").alias("j_id"),
                       F.col("rel").alias("s_e6"))
    out = mmr_rerank(pairs.unionByName(diag), k=_RAG_K)
    return out.select("q_id", "c_id", "mmr_rank", "rel_e6")


@register(
    "multi_epoch_shuffle",
    """WITH e AS (SELECT range AS epoch FROM range(0, 3)),
h AS (
  SELECT e.epoch, d.doc_id,
         md5('shuf:' || CAST(e.epoch AS STRING) || ':'
             || CAST(d.doc_id AS STRING)) AS hkey
  FROM documents d, e
)
SELECT epoch, doc_id,
       ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY hkey) AS shuffle_pos
FROM h""",
    doc="the full training schedule: an independent deterministic "
        "permutation per epoch (hash seeded by epoch:doc_id), so any "
        "worker can compute any epoch's order without coordination or "
        "stored shuffle files. Spark numbers each epoch with the bucketed "
        "prefix-sum pattern (per-epoch 256-bucket range partition — the "
        "only unpartitioned window is over epochs x 256 count rows); the "
        "oracle's plain per-epoch ROW_NUMBER proves equality.",
)
def q_multi_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigerbeetle_cdc_nats_spark.operators.windows import global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("bigint").alias("epoch"))
    h = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch", "doc_id",
        F.md5(F.concat(F.lit("shuf:"), F.col("epoch").cast("string"),
                       F.lit(":"), F.col("doc_id").cast("string"))
              .cast("binary")).alias("hkey"))
    # Per-epoch numbering: fold the epoch into the range bucket so one
    # global_row_number call numbers all epochs (bucket ordering is
    # (epoch, hash-prefix), and the ordering key is (epoch, hkey) — the
    # bucket stays monotone in the order key within each epoch).
    out = []
    for ep in range(3):
        part = h.where(F.col("epoch") == ep)
        bucket = F.conv(F.substring("hkey", 1, 2), 16, 10).cast("int")
        out.append(global_row_number(part, ["hkey"], bucket,
                                     out_col="shuffle_pos"))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.select("epoch", "doc_id", "shuffle_pos")


@register(
    "quality_weighted_sample",
    f"""WITH d AS (
  SELECT doc_id, source,
         CAST(FLOOR(({tx.sql_quality('text')}) * 1000000.0) AS BIGINT)
           AS q_e6,
         {dd.sql_hash60("'ws:' || CAST(doc_id AS STRING)")} // 1048576
           AS h40
  FROM documents
)
SELECT doc_id, source, q_e6
FROM d
WHERE h40 * 1000000 < q_e6 * 1099511627776""",
    doc="quality-weighted sampling: each doc kept with probability equal "
        "to its quality score — deterministic Bernoulli via a 40-bit doc "
        "hash compared against the quality threshold in EXACT integer "
        "arithmetic (h40 * 1e6 < q_e6 * 2^40; both products < 2^63, no "
        "float RNG, reproducible on any partitioning). The "
        "upsample-good-data step of mixture construction; zero shuffle.",
)
def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q_e6 = (F.floor(tx.quality_score("text")["quality"] * 1000000.0)
            .cast("bigint"))
    h60 = dd.hash60(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
    h40 = F.shiftright(h60, 20).cast("bigint")  # exact: h60 < 2^60, >= 0
    d = docs.select("doc_id", "source", q_e6.alias("q_e6"),
                    h40.alias("h40"))
    return (d.where(F.col("h40") * 1000000
                    < F.col("q_e6") * F.lit(1099511627776))
            .select("doc_id", "source", "q_e6"))


@register(
    "source_frequency_cap",
    """WITH r AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS src_rank,
         COUNT(*) OVER (PARTITION BY source) AS src_docs
  FROM documents
)
SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
       CAST(src_docs AS BIGINT) AS src_docs,
       CAST(src_rank <= 20 AS BIGINT) AS kept
FROM r""",
    doc="per-source frequency cap (the single-domain-dominance hygiene "
        "step): rank each source's docs by a deterministic quality key "
        "(n_chars desc, id asc) and keep the top 20 — caps any one "
        "domain's contribution to the training mix",
)
def q_source_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap per-source document counts by ranked quality.

    Scale shape: ONE shuffle keyed on source for both window functions
    (rank + count share the partitioning, so Catalyst plans a single
    exchange + sort). Source cardinality is domain cardinality (millions)
    with bounded per-key rows relative to corpus size; a genuinely hot
    domain is exactly what the cap is for, and AQE's skew handling splits
    its sort. Output is a verdict per doc, not a filtered corpus, so
    downstream stages choose enforcement.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(),
                                             "doc_id")
    ws = Window.partitionBy("source")
    return docs.select(
        "doc_id", "source",
        F.row_number().over(w).cast("bigint").alias("src_rank"),
        F.count("*").over(ws).cast("bigint").alias("src_docs"),
    ).withColumn("kept", (F.col("src_rank") <= 20).cast("bigint"))


@register(
    "winnow_probe_indexed",
    f"""WITH {_WINNOW_FP_CTE},
dp AS (SELECT doc_id, wm FROM fp WHERE doc_id % 5 = 4),
pr AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS other_id, COUNT(*) AS n_shared
  FROM dp a JOIN fp b ON a.wm = b.wm AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id, other_id, n_shared FROM pr""",
    doc="delta-vs-corpus winnowing probe: a 20% delta batch's fingerprints "
        "read ONLY their wm-shard partition directories of the stored "
        "fingerprint index (file-level pruning) — per delta doc, shared-"
        "fingerprint counts against the whole corpus; the winnow twin of "
        "minhash_probe_indexed, completing the stored-index probe surface",
)
def q_winnow_probe_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-fingerprint counts of the delta batch vs the indexed corpus.

    Scale shape: the probe side is the delta's fingerprints (~2/(w+1) of
    its gram volume); the index side prunes to the probed shards before
    any join, so a daily batch costs O(|delta|), not O(corpus).

    Session-memoized on the documents and index identities, like
    corpus_minhash_probe: the memo value holds the persisted delta (or,
    in-session, the persisted fingerprints) next to the counts, so an
    identity change releases it.
    """
    from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

    docs = load_table(spark, sf_dir, "documents")
    pred = (F.col("doc_id") % 5) == 4

    def computed() -> tuple:
        # identical counts in-session
        fp = winnow_fingerprints(docs).persist()
        a = fp.where(pred).select("wm", F.col("doc_id").alias("doc_id"))
        b = fp.select("wm", F.col("doc_id").alias("other_id"))
        return (a.join(b, ["wm"])
                .where(F.col("doc_id") != F.col("other_id"))
                .groupBy("doc_id", "other_id")
                .agg(F.count("*").alias("n_shared")), fp)

    return qd.index_memo(
        spark, sf_dir, "winnow_probe_indexed", "winnow_probe", sf_dir,
        _winnow_path,
        lambda p: di.probe_winnow_index(spark, p, docs.where(pred)),
        computed)[0]


def _winnow_path(spark: SparkSession, sf_dir: str) -> str:
    """The corpus's winnowing fingerprint index, built on first touch."""
    from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

    return qd.stored_index("winnow", sf_dir, lambda p: di.write_winnow_index(
        load_table(spark, sf_dir, "documents"), p))


#: Head sizes for the vocabulary coverage curve.
VOCAB_COVERAGE_KS = (10, 100, 1000)


@register(
    "vocab_coverage",
    f"""WITH tok AS (SELECT unnest(str_split(text, ' ')) AS t
             FROM documents),
tc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM tc),
r AS (SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk FROM tc),
ks AS (SELECT unnest({list(VOCAB_COVERAGE_KS)}) AS k),
cov AS (SELECT ks.k, CAST(SUM(r.c) AS BIGINT) AS covered,
               CAST(COUNT(*) AS BIGINT) AS n_vocab
        FROM ks JOIN r ON r.rk <= ks.k GROUP BY ks.k)
SELECT CAST(cov.k AS BIGINT) AS k, cov.n_vocab,
       CAST(CAST(covered AS HUGEINT) * 1000000 // tot.n AS BIGINT)
         AS covered_e6
FROM cov, tot""",
    doc="vocabulary coverage / OOV curve: the exact token-mass fraction "
        "(1e-6 units) covered by the top-10/100/1000 most frequent "
        "tokens — the statistic that sizes a tokenizer vocabulary and "
        "predicts the OOV rate a fixed vocab leaves behind; deterministic "
        "ties by (count desc, token)",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage of the top-k token heads.

    Scale shape: one explode+groupBy(token) (vocab-sized output with
    map-side combine), the rank window runs over the VOCABULARY aggregate
    only (allow-listed grouped input, never row-level data), and the
    k-spine join multiplies only vocab rows. Coverage shares widen
    through DECIMAL(38,0)/HUGEINT — token totals at advertised corpus
    scale pass int64 when multiplied by 1e6.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tc = (docs.select(F.explode(F.split("text", " ")).alias("t"))
          .groupBy("t").agg(F.count("*").alias("c")))
    r = tc.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("c").desc(), "t")))
    tot = tc.agg(F.sum("c").alias("n"))
    ks = spark.createDataFrame([(k,) for k in VOCAB_COVERAGE_KS], "k int")
    cov = (r.join(F.broadcast(ks), F.col("rk") <= F.col("k"))
           .groupBy("k")
           .agg(F.sum("c").cast("bigint").alias("covered"),
                F.count("*").cast("bigint").alias("n_vocab")))
    return (cov.crossJoin(F.broadcast(tot))
            .select(F.col("k").cast("bigint").alias("k"),
                    "n_vocab",
                    F.expr("CAST((CAST(covered AS DECIMAL(38,0)) * 1000000)"
                           " DIV n AS BIGINT)").alias("covered_e6")))


#: Width of the shared-phrase window for boilerplate detection (C4 strips
#: repeated 3-sentence spans; on the ~50-token synthetic docs a 5-token
#: phrase is the analogous "too long to collide by chance" unit).
BOILERPLATE_N = 5

_BP_TOKS = "str_split(text, ' ')"
_BP_GRAM = " || ' ' || ".join(
    f"l[CAST(i + {j} AS INT)]" for j in range(BOILERPLATE_N))


@register(
    "boilerplate_ngrams",
    f"""WITH t AS (SELECT doc_id, {_BP_TOKS} AS l FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l) - {BOILERPLATE_N - 2}),
                               i -> {_BP_GRAM})) AS gram
  FROM t WHERE len(l) >= {BOILERPLATE_N}
)
SELECT gram,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM g
GROUP BY gram
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, gram
LIMIT 50""",
    doc=f"boilerplate phrase census: the top-50 word-{BOILERPLATE_N}-grams "
        "shared by at least two distinct documents, ranked by how many "
        "docs carry them — the C4-style detector for navigation chrome, "
        "license headers, and template footers that near-dup pair mining "
        "misses because no single document pair is similar enough; feeds "
        "a strip-list, not a drop-list",
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: explode gram START INDEXES (not materialized gram
    arrays) so the concat stays a codegen'd row expression pipelined with
    the scan; one shuffle keyed on the gram string with map-side partial
    aggregation (count-distinct runs as Spark's two-phase partial
    dedupe); top-50 is TakeOrderedAndProject (per-partition heaps), never
    a global sort. Gram cardinality ~ corpus token count, the same key
    space every vocab aggregate here already shuffles on."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = (
        dd.ensure_parallelism(
            docs.select("doc_id", toks.alias("_toks")))
        .where(F.size("_toks") >= BOILERPLATE_N)
    )
    ex = base.withColumn(
        "_i",
        F.explode(F.sequence(F.lit(0), F.size("_toks") - BOILERPLATE_N)))
    gram = F.concat_ws(
        " ", *[F.element_at("_toks", F.col("_i") + j + 1)
               for j in range(BOILERPLATE_N)])
    rows = ex.select("doc_id", gram.alias("gram"))
    stats = (
        rows.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_docs") >= 2)
    )
    return stats.orderBy(
        F.col("n_docs").desc(), F.col("n_occurrences").desc(),
        "gram").limit(50)
