"""Corpus-composition operators (LLM-pipeline extension).

What a training-data pipeline does AFTER cleaning and dedup: score
repetition (Gopher-style filters), rank salient terms per source (TF-IDF),
assign deterministic train/val/test splits, and compute per-source sampling
weights to hit a token-budget mix.  No reference-repo counterpart — this is
the "beyond the reference" surface the engine exists for.

Scale posture:

- ``repetition_scores`` is ONE range shuffle: the uni+bi-gram explode feeds a
  two-level aggregate whose both levels and the final ORDER BY are satisfied
  by the same RangePartitioning(doc_id), so gram rows never cross the wire
  twice.  Grams are per-doc local keys — no global hot key exists.
- ``tfidf_top_terms`` is the classic two-shuffle plan (tf hash-agg with
  map-side partials absorbing the Zipf head, then a window by term for df);
  per-source top-k is a bounded window, never a global sort.
- ``stratified_split_counts`` derives the split from the first hex nibble of
  ``md5(doc_id)`` — a pure narrow map, embarrassingly parallel, identical
  assignment on any engine (the property that makes a split reproducible
  across the Spark pipeline and any downstream reader).
- ``source_mix_weights`` aggregates per source first; the corpus-wide totals
  are a window over the ALREADY-AGGREGATED rows (one row per source), so the
  single-partition window touches thousands of rows at most, never the
  corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ordering import small_sorted
from ..functions.rounding import rnd, rnd_sql
from ..lake.tables import load_table

# -- Gopher-style repetition filters ------------------------------------------

# Words and bigrams are counted in ONE pass by tagging grams ('u:' / 'b:')
# and unioning them inside the array before the explode — one shuffle
# instead of two explode→agg pipelines.
_GRAMS = (
    "concat("
    " transform(w, t -> concat('u:', t)),"
    " case when size(w) >= 2 then"
    "   transform(sequence(1, size(w) - 1),"
    "             i -> concat('b:', element_at(w, i), ' ', element_at(w, i + 1)))"
    " else array() end)"
)


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition diagnostics: top-word fraction, duplicate-word
    fraction, top-bigram fraction — the Gopher/MassiveText repetition
    filters used to drop boilerplate and degenerate generations.

    r13: THREE shapes measured at 100x (SCALE_PROBE r13_aggfirst_ab /
    r13_aggfirst2_ab); the two rejected ones are in git history:

    - ``range`` (the r12 shape): one range exchange of every raw
      EXPLODED gram row serves both agg levels and the global order —
      but its sampler re-executes the whole explode pipeline to pick
      boundaries, and the order it buys is oracle-canonicalized.
    - ``aggfirst`` (the events_sliding lesson): planned aggs, partial
      (doc_id, gram) count before the exchange.  Measured and REJECTED
      at 100x: 14.743 s vs range's 12.795 s — per-doc grams are
      near-unique within a map task's slice, so the partial hash table
      folds little and its overhead beats the sampler saving.  The
      agg-first lever needs LOW group-key cardinality (events_sliding:
      ~86k keys, 7x fold, 3.1x win; here: millions of keys, ~1x fold).
    - ``hash`` (shipped): the range shape minus its defects — ONE
      explicit hash exchange on doc_id (satisfies both agg levels'
      clustering exactly like range partitioning did), both aggs run
      complete post-shuffle, NO sampling job, no global order."""
    docs = load_table(spark, sf_dir, "documents")
    is_u = F.col("gram").startswith("u:")
    counts = (
        docs.select(
            "doc_id",
            F.expr("filter(split(text, ' '), t -> t != '')").alias("w"),
        )
        .select("doc_id", F.explode(F.expr(_GRAMS)).alias("gram"))
        .repartition("doc_id")
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(is_u, F.col("cnt"))).alias("n_words"),
            F.count(F.when(is_u, F.lit(1))).alias("n_distinct"),
            F.max(F.when(is_u, F.col("cnt"))).alias("top_word_n"),
            F.sum(F.when(~is_u, F.col("cnt"))).alias("n_bigrams"),
            F.max(F.when(~is_u, F.col("cnt"))).alias("top_bigram_n"),
        )
    )
    return counts.select(
        "doc_id",
        "n_words",
        rnd(F.col("top_word_n") / F.col("n_words"), 4).alias("top_word_frac"),
        rnd(
            (F.col("n_words") - F.col("n_distinct")) / F.col("n_words"), 4
        ).alias("dup_word_frac"),
        rnd(F.col("top_bigram_n") / F.col("n_bigrams"), 4).alias(
            "top_bigram_frac"
        ),
    ).sortWithinPartitions("doc_id")


_REPETITION_SQL = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS w
  FROM documents
), g AS (
  SELECT doc_id, 'u:' || t.g AS gram FROM w, unnest(w.w) AS t(g)
  UNION ALL
  SELECT doc_id, 'b:' || w.w[r.i] || ' ' || w.w[r.i + 1] AS gram
  FROM w, unnest(range(1, len(w.w))) AS r(i)
), c AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
), a AS (
  SELECT doc_id,
         CAST(sum(cnt) FILTER (WHERE gram LIKE 'u:%') AS BIGINT) AS n_words,
         count(*) FILTER (WHERE gram LIKE 'u:%') AS n_distinct,
         max(cnt) FILTER (WHERE gram LIKE 'u:%') AS top_word_n,
         sum(cnt) FILTER (WHERE gram NOT LIKE 'u:%') AS n_bigrams,
         max(cnt) FILTER (WHERE gram NOT LIKE 'u:%') AS top_bigram_n
  FROM c GROUP BY doc_id
)
SELECT doc_id, n_words,
       {rnd_sql('top_word_n * 1.0 / n_words', 4)} AS top_word_frac,
       {rnd_sql('(n_words - n_distinct) * 1.0 / n_words', 4)} AS dup_word_frac,
       {rnd_sql('top_bigram_n * 1.0 / n_bigrams', 4)} AS top_bigram_frac
FROM a
ORDER BY doc_id
"""


# -- TF-IDF per-source salient terms ------------------------------------------


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per source by TF-IDF (idf over sources as the "document"
    unit).  Rank is computed on the ROUNDED score so the ordering is
    engine-portable; ties break alphabetically."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nsrc = docs.agg(F.countDistinct("source").alias("nsrc"))
    by_term = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(by_term))
        .crossJoin(F.broadcast(nsrc))
        .withColumn(
            "tfidf",
            rnd(F.col("tf") * F.log(F.col("nsrc") / F.col("df")), 4),
        )
    )
    by_source = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(by_source))
        .filter(F.col("rnk") <= 3)
        .select("source", "term", "tf", "df", "tfidf", "rnk")
        .transform(small_sorted, "source", "rnk")
    )


_TFIDF_SQL = f"""
WITH tf AS (
  SELECT source, t.term, count(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS t(term)
  WHERE t.term != ''
  GROUP BY source, t.term
), n AS (
  SELECT count(DISTINCT source) AS nsrc FROM documents
), d AS (
  SELECT source, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf
), s AS (
  SELECT source, term, tf, df,
         {rnd_sql('tf * ln(nsrc * 1.0 / df)', 4)} AS tfidf
  FROM d, n
), r AS (
  SELECT *, row_number() OVER (
           PARTITION BY source ORDER BY tfidf DESC, term) AS rnk
  FROM s
)
SELECT source, term, tf, df, tfidf, rnk
FROM r WHERE rnk <= 3
ORDER BY source, rnk
"""


# -- deterministic stratified split -------------------------------------------

# Split from the first hex nibble of md5(doc_id): '0'-'b' train (12/16),
# 'c'-'d' val (2/16), 'e'-'f' test (2/16).  A pure function of the row key —
# reproducible on any engine, stable under re-partitioning, no RNG state.


def _split_col(key) -> F.Column:
    nib = F.substring(F.md5(key.cast("string")), 1, 1)
    return (
        F.when(nib < "c", "train").when(nib < "e", "val").otherwise("test")
    )


def stratified_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            _split_col(F.col("doc_id")).alias("split"),
            "n_chars",
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            rnd(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .transform(small_sorted, "source", "split")
    )


_SPLIT_SQL = f"""
WITH s AS (
  SELECT source,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM documents
)
SELECT source, split, count(*) AS n_docs,
       {rnd_sql('avg(n_chars)', 2)} AS avg_chars
FROM s GROUP BY source, split
ORDER BY source, split
"""


# -- token-budget source mixing -----------------------------------------------


def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weight that rebalances the corpus toward a uniform
    token budget: weight = min(1, fair_share / actual_tokens).  Sources over
    budget are down-sampled; under-budget sources keep everything."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.expr("filter(split(text, ' '), t -> t != '')"))
    per_source = (
        docs.select("source", n_tokens.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    # Corpus totals over the aggregated rows (one per source): the window
    # sees thousands of rows at most, never the corpus.
    everything = Window.partitionBy()
    return (
        per_source.withColumn(
            "total_tokens", F.sum("n_tokens").over(everything)
        )
        .withColumn("n_sources", F.count(F.lit(1)).over(everything))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            rnd(F.col("n_tokens") / F.col("total_tokens"), 6).alias(
                "token_share"
            ),
            rnd(
                F.least(
                    F.lit(1.0),
                    F.col("total_tokens")
                    / F.col("n_sources")
                    / F.col("n_tokens"),
                ),
                6,
            ).alias("sample_weight"),
        )
        .transform(small_sorted, "source")
    )


_MIX_SQL = f"""
WITH p AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), t -> t != '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT *, sum(n_tokens) OVER () AS total_tokens,
         count(*) OVER () AS n_sources
  FROM p
)
SELECT source, n_docs, n_tokens,
       {rnd_sql('n_tokens * 1.0 / total_tokens', 6)} AS token_share,
       {rnd_sql('least(1.0, total_tokens * 1.0 / n_sources / n_tokens)', 6)} AS sample_weight
FROM t ORDER BY source
"""


# -- sequence packing ---------------------------------------------------------
# Pre-training batch construction: documents are packed, in deterministic
# per-source order, into fixed token-budget training sequences (sequential
# packing — the streaming-friendly strategy; bin id is a pure function of
# the running token count, so the same corpus always packs identically).
# One window shuffle keyed by source computes the running count; the bin
# report is a hash-agg over (source, bin).  At 100 TB the window key is the
# source shard — thousands of independent partitions, no global sort.

_SEQ_BUDGET = 512  # tokens per packed sequence


def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr("filter(split(text, ' '), t -> t != '')"))
    by_source = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_bin = (
        docs.select("source", "doc_id", n_tok.alias("n_tok"))
        .withColumn("cum", F.sum("n_tok").over(by_source))
        # a doc belongs to the bin its FIRST token lands in
        .withColumn(
            "bin_id",
            F.floor((F.col("cum") - F.col("n_tok")) / F.lit(_SEQ_BUDGET)),
        )
    )
    return (
        with_bin.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            "source",
            "bin_id",
            "n_docs",
            "n_tokens",
            rnd(F.col("n_tokens") / F.lit(float(_SEQ_BUDGET)), 4).alias(
                "fill_rate"
            ),
        )
        .repartitionByRange("source", "bin_id")
        .sortWithinPartitions("source", "bin_id")
    )


_PACKING_SQL = f"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split(text, ' '), t -> t != '')) AS n_tok
  FROM documents
), c AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
), b AS (
  SELECT source, CAST(floor((cum - n_tok) / {_SEQ_BUDGET}) AS BIGINT) AS bin_id,
         n_tok
  FROM c
)
SELECT source, bin_id, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       {rnd_sql(f'sum(n_tok) / {float(_SEQ_BUDGET)}', 4)} AS fill_rate
FROM b GROUP BY source, bin_id
ORDER BY source, bin_id
"""


# -- packing efficiency eval --------------------------------------------------
# The eval layer for the packing heuristic (same pattern as
# minhash_recall_eval / ivf_recall_eval for the approximate paths): how
# close sequential packing gets to the information-theoretic bin floor
# ceil(total_tokens / budget) per source.  Pure aggregation over the same
# bin assignment — one window shuffle + one hash-agg, scale-clean.


def packing_efficiency_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr("filter(split(text, ' '), t -> t != '')"))
    by_source = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_bin = (
        docs.select("source", "doc_id", n_tok.alias("n_tok"))
        .withColumn("cum", F.sum("n_tok").over(by_source))
        .withColumn(
            "bin_id",
            F.floor((F.col("cum") - F.col("n_tok")) / F.lit(_SEQ_BUDGET)),
        )
    )
    ideal = F.ceil(F.col("total_tokens") / F.lit(_SEQ_BUDGET))
    return (
        with_bin.groupBy("source")
        .agg(
            F.countDistinct("bin_id").alias("n_bins"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .select(
            "source",
            "n_bins",
            "total_tokens",
            ideal.alias("ideal_bins"),
            rnd(F.col("n_bins") / ideal, 4).alias("bin_overhead"),
            rnd(
                F.col("total_tokens")
                / (F.col("n_bins") * F.lit(float(_SEQ_BUDGET))),
                4,
            ).alias("mean_fill"),
        )
        .orderBy("source")
    )


_PACKING_EVAL_SQL = f"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split(text, ' '), t -> t != '')) AS n_tok
  FROM documents
), c AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
), b AS (
  SELECT source, CAST(floor((cum - n_tok) / {_SEQ_BUDGET}) AS BIGINT) AS bin_id,
         n_tok
  FROM c
), s AS (
  SELECT source, count(DISTINCT bin_id) AS n_bins,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens
  FROM b GROUP BY source
)
SELECT source, n_bins, total_tokens,
       CAST(ceil(total_tokens * 1.0 / {_SEQ_BUDGET}) AS BIGINT) AS ideal_bins,
       {rnd_sql(f'n_bins * 1.0 / ceil(total_tokens * 1.0 / {_SEQ_BUDGET})', 4)} AS bin_overhead,
       {rnd_sql(f'total_tokens * 1.0 / (n_bins * {float(_SEQ_BUDGET)})', 4)} AS mean_fill
FROM s ORDER BY source
"""


QUERIES = {
    "repetition_scores": repetition_scores,
    "tfidf_top_terms": tfidf_top_terms,
    "stratified_split_counts": stratified_split_counts,
    "source_mix_weights": source_mix_weights,
    "sequence_packing_bins": sequence_packing_bins,
    "packing_efficiency_eval": packing_efficiency_eval,
}

ORACLE = {
    "packing_efficiency_eval": _PACKING_EVAL_SQL,
    "sequence_packing_bins": _PACKING_SQL,
    "repetition_scores": _REPETITION_SQL,
    "tfidf_top_terms": _TFIDF_SQL,
    "stratified_split_counts": _SPLIT_SQL,
    "source_mix_weights": _MIX_SQL,
}
