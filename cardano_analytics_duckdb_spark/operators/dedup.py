"""Deduplication operators over the ``documents`` table.

LLM-training-pipeline extensions (driver spec, SURVEY §7.6): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH banding, SimHash fingerprints.

Determinism strategy: every hash is ``md5`` (identical hex output in Spark
and DuckDB), so the MinHash signatures — ``min(md5(seed || shingle))`` as a
*string* min — and SimHash bit derivations hash-match the oracle exactly.
No engine-specific hash (xxhash64, DuckDB ``hash()``) appears anywhere.

Scale notes (100 TB posture):
- exact dedup is one hash-aggregate on the fingerprint — fully distributed,
  map-side partial agg applies.
- all-pairs Jaccard is inherently quadratic, so the exposed query bounds the
  candidate set (doc_id < 300); the scale path is MinHash banding: shuffle by
  band key → candidate pairs only within buckets (classic LSH; cost scales
  with bucket sizes, not n²).
- shingling is JVM-side (`split`/`transform`/`explode`) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ordering import small_sorted
from ..functions.rounding import rnd
from ..lake.tables import lake_sql, load_table
from .similarity import _dot, _norm

# -- exact dedup: hash-groupBy fingerprint ------------------------------------


def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sort key ≠ group key, so the shuffles can't merge; the result is
    # group-bounded and small, so one-pass coalesced sort beats ORDER BY's
    # plan-re-executing range sampler (functions/ordering.py)
    return lake_sql(spark, sf_dir, """
SELECT /*+ COALESCE(1) */ fingerprint,
       min(doc_id) AS canonical_doc_id,
       count(*) AS dup_count
FROM (SELECT doc_id, md5(CAST(text AS BINARY)) AS fingerprint FROM {documents})
GROUP BY fingerprint
SORT BY canonical_doc_id
""")


_EXACT_DEDUP_SQL = """
SELECT md5(text) AS fingerprint,
       min(doc_id) AS canonical_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY fingerprint
ORDER BY canonical_doc_id
"""

# -- word 3-gram shingles (shared by Jaccard and MinHash) ---------------------

# A row's word array and its 3-gram shingle array, as SQL text.
_WORDS = "split(text, ' ')"
_SHINGLE_ARRAY = (
    "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
)


def _shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs; docs with <3 tokens contribute none.

    ``distinct=True`` gives set semantics (needed for Jaccard counts);
    min-based consumers can skip the dedup shuffle."""
    out = (
        docs.selectExpr("doc_id", f"{_WORDS} AS w")
        .filter("size(w) >= 3")
        .selectExpr("doc_id", f"explode({_SHINGLE_ARRAY}) AS sh")
    )
    return out.distinct() if distinct else out


_SHINGLES_CTE = """
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM {src}),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[g:g+2], ' ') AS sh
  FROM words, unnest(generate_series(1, greatest(len(w)-2, 0))) AS t(g)
)
"""

# -- n-gram Jaccard near-dup pairs (bounded all-pairs) ------------------------


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-doc distinct shingle ARRAY, computed narrowly (array_distinct in
    # the row, no dedup shuffle) over the doc_id < 300 verify slice.
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    w = F.split(F.col("text"), " ")
    return (
        docs.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.array_distinct(F.expr(_SHINGLE_ARRAY)).alias("sh_arr"),
        )
    )


def _jaccard_pairs_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 single-scan rewrite (guide §2.4 / §1.2 "fix the algorithm"):
    # the r9–r12 shape was a self-JOIN of the exploded shingle stream plus
    # two broadcast size-attach joins — FOUR full scans of the documents
    # lake, each decoding the text payload just to re-derive the same
    # bounded shingle set (the doc_id < 300 gate can't row-group-skip on a
    # layout that scatters doc_ids, so every scan decompresses everything;
    # measured 12.99 s vs DuckDB's 0.20 s single-CTE pass at the 100x
    # probe lake, SCALE_PROBE r13_dedupfinals_ab).  The posting-list shape
    # scans ONCE: explode carries (doc_id, n_sh) structs, groupBy shingle
    # builds the inverted index, and each posting list emits its (a<b)
    # pairs — the same pairs the equi-join produced, with the set sizes
    # already on the row so no size-attach joins exist.  Per-shingle pair
    # fan-out is identical to the join's (k² per hot shingle either way).
    # A/B + equality: SCALE_PROBE r13_jaccard_ab.  Returns the UNSORTED
    # pair set: cluster/survivor/leakage consumers feed it into joins and
    # aggregations where any ordering (and any coalesce) would be dead
    # weight; the declared query orders at its own boundary.
    sh = _shingle_arrays(spark, sf_dir).select(
        F.struct("doc_id", F.size("sh_arr").alias("n_sh")).alias("d"),
        F.explode("sh_arr").alias("sh"),
    )
    posting = (
        sh.groupBy("sh")
        .agg(F.collect_list("d").alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = (
        posting.select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.withColumn(
            "jaccard",
            rnd(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop, cluster-family sweep: the pair set is bounded by the
    # doc_id < 300 gate at ANY corpus scale, so the global order costs a
    # range exchange + a sampler job (one extra ~0.2 s dispatch, per the
    # fixed-cost floor decomposition) for a report-sized result.
    # small_sorted keeps the exact global order in one single-task pass.
    # A/B: SCALE_PROBE r13_dedupfinals_ab.
    return small_sorted(_jaccard_pairs_core(spark, sf_dir), "doc_a", "doc_b")


_JACCARD_SQL = (
    "WITH "
    + _SHINGLES_CTE.format(src="(SELECT * FROM documents WHERE doc_id < 300)")
    + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       floor((n_common / (sa.n_sh + sb.n_sh - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor((n_common / (sa.n_sh + sb.n_sh - n_common)) * 10000.0 + 0.5) / 10000.0 >= 0.2
ORDER BY doc_a, doc_b
"""
)

# -- MinHash + LSH banding ----------------------------------------------------
# k=6 hash functions from ONE digest per shingle: hash function i is the
# 5-hex-char window [i*5, i*5+5) of md5(shingle) (one-permutation-hashing
# style — one md5 instead of k seeded ones, 6x less hashing on the hot
# 500k-shingle stage; windows of a uniform digest are uniform, and min is
# taken per window across a doc's shingles).  2 bands x 3 rows.
# Duplicate candidates = docs sharing a band signature.

_MINHASH_K = 6
_BANDS = [(0, 3), (3, 6)]

# Signature aggregates over (doc_id, sh) rows, and the one explode that
# emits both bands of a signature row as ``bk`` structs (a union of two
# projections would recompute the signature lineage per branch).
_SIGNATURE_AGGS = [
    f"min(substring(md5(CAST(sh AS BINARY)), {1 + i * 5}, 5)) AS h{i}"
    for i in range(_MINHASH_K)
]
_BAND_EXPLODE = "explode(array({})) AS bk".format(", ".join(
    f"struct({b} AS band, concat_ws('|', "
    + ", ".join(f"h{i}" for i in range(lo, hi))
    + ") AS band_key)"
    for b, (lo, hi) in enumerate(_BANDS)
))
_BAND_COLS = ("doc_id", "bk.band AS band", "bk.band_key AS band_key")


def _canonical_bands(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(band rows over canonical signatures only, doc→canon membership map).

    The hot-bucket guard for every MinHash-band consumer: byte-identical
    documents have identical signatures, so a degenerate corpus (G copies
    of one document) would put all G in one band bucket and make the
    candidate self-join quadratic in G.  The collapse happens at the
    SIGNATURE level — canon_id = min doc_id per full signature — which is
    strictly stronger (it also merges distinct texts that collide in every
    minhash, whose pairwise band collisions are equal by construction) and
    nearly free: one extra window exchange over the per-doc signature
    table (already tiny), never a re-shuffle of document text.  Band
    buckets are then signature-unique; duplicate-doc pairs are reattached
    by a linear membership expansion (cost ∝ output size, which any
    correct pair listing already pays)."""
    from pyspark.sql import Window

    sig = _signatures(docs)
    hcols = [f"h{i}" for i in range(_MINHASH_K)]
    annotated = sig.withColumn(
        "canon_id", F.min("doc_id").over(Window.partitionBy(*hcols))
    )
    canon = annotated.select("doc_id", "canon_id")
    canon_sig = annotated.filter(
        F.col("doc_id") == F.col("canon_id")
    ).select("doc_id", *hcols)
    return _bands_of(canon_sig), canon


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_bands) candidate pairs from the banded signature
    join — doc_a < doc_b, n_bands = bands in which the pair collides.

    Plan: self-join over CANONICAL band rows (signature-unique buckets,
    cost ∝ Σ bucket² over distinct signatures), then expand canonical
    pairs through the membership map: cross-group pairs inherit the
    canonical pair's band-collision count; within-group (identical-
    signature) pairs collide in every band by construction.  Shingle-less
    docs (<3 tokens) have no signature, hence no membership row and no
    pairs — same contract as banding every doc directly."""
    bands, canon = _canonical_bands(docs)
    a, b = bands.alias("a"), bands.alias("b")
    cpairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("ca"),
            F.col("b.doc_id").alias("cb"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("n_bands"))
    )
    ma = canon.select(
        F.col("canon_id").alias("ca"), F.col("doc_id").alias("da")
    )
    mb = canon.select(
        F.col("canon_id").alias("cb"), F.col("doc_id").alias("db")
    )
    cross = (
        cpairs.join(ma, "ca")
        .join(mb, "cb")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "n_bands",
        )
    )
    within = (
        ma.alias("x")
        .join(
            ma.alias("y"),
            (F.col("x.ca") == F.col("y.ca"))
            & (F.col("x.da") < F.col("y.da")),
        )
        .select(
            F.col("x.da").alias("doc_a"),
            F.col("y.da").alias("doc_b"),
            F.lit(len(_BANDS)).cast("int").alias("n_bands"),
        )
    )
    return cross.unionByName(within)


def _signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h5) per-doc MinHash signature — the heavy stage."""
    # No distinct() on shingles: min over a multiset equals min over the set,
    # so dedup-before-min would only add a shuffle.  (A no-explode variant —
    # per-doc digest arrays via higher-order transform + array_min — was
    # measured 30% SLOWER despite skipping the doc_id exchange: HOF lambdas
    # evaluate interpreted, while the exploded form keeps md5/substring/min
    # inside whole-stage codegen with map-side partial aggregation.)
    sh = _shingles(docs, distinct=False)
    return sh.groupBy("doc_id").agg(*map(F.expr, _SIGNATURE_AGGS))


def _bands_of(sig: DataFrame) -> DataFrame:
    """Signature rows → (doc_id, band, band_key) band rows."""
    return sig.selectExpr("doc_id", _BAND_EXPLODE).selectExpr(*_BAND_COLS)


# The bucket report in one text, innermost first: words → shingles →
# signatures → band rows, then ONE hash exchange on the bucket key (see
# minhash_band_buckets).  Nested subqueries, not a WITH chain: Spark took
# about a third longer to analyse the same plan written with CTEs.
_MINHASH_BUCKETS_TEXT = f"""
SELECT * FROM (
  SELECT band, band_key, count(*) AS bucket_size,
         concat_ws('|', transform(array_sort(collect_list(doc_id)),
                                  x -> CAST(x AS STRING))) AS members
  FROM (SELECT /*+ REPARTITION(band, band_key) */ * FROM (
    SELECT {", ".join(_BAND_COLS)} FROM (
      SELECT doc_id, {_BAND_EXPLODE} FROM (
        SELECT doc_id, {", ".join(_SIGNATURE_AGGS)} FROM (
          SELECT doc_id, explode({_SHINGLE_ARRAY}) AS sh FROM (
            SELECT doc_id, {_WORDS} AS w FROM {{documents}}
          ) WHERE size(w) >= 3
        ) GROUP BY doc_id
      )
    )
  ))
  GROUP BY band, band_key
) WHERE bucket_size > 1
SORT BY band, band_key
"""


def minhash_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No hot-bucket guard needed HERE: this query only lists buckets — no
    # pair self-join exists in its plan, so a degenerate identical-doc
    # corpus costs O(bucket size) (the members cell), never O(bucket²).
    # The pair-generating consumers go through minhash_candidate_pairs,
    # which self-joins canonical signatures only.
    #
    # ONE hash exchange, computed-once lineage (r10): the previous
    # repartitionByRange here bought a global ORDER BY, but its
    # RangePartitioner SAMPLER re-ran the entire signature lineage
    # (shingle → hash → min-reduce) a second time before the real
    # shuffle — and the keys only exist post-computation, so the
    # pre-shuffle range trick (ordering.py) can't apply.  A bucket
    # report at 100 TB is doc-count-sized and never needs a TOTAL
    # order; hash clustering satisfies the group-by with no sampler,
    # and the partition-local sort keeps output deterministic per
    # partition (driver/oracle comparison is order-insensitive).
    # band_key is near-unique, so map-side partials would not shrink
    # this shuffle anyway.  members is a '|'-joined numerically-sorted
    # string (sort before the string cast — '10' < '2'
    # lexicographically): the driver canonicalizer can't hash array cells.
    return lake_sql(spark, sf_dir, _MINHASH_BUCKETS_TEXT)


def _minhash_sql() -> str:
    hash_cols = ",\n         ".join(
        f"min(substring(md5(sh), {1 + i * 5}, 5)) AS h{i}"
        for i in range(_MINHASH_K)
    )
    band_selects = []
    for b, (lo, hi) in enumerate(_BANDS):
        key = " || '|' || ".join(f"h{i}" for i in range(lo, hi))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sig"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    return (
        "WITH "
        + _SHINGLES_CTE.format(src="documents")
        + f"""
, sig AS (
  SELECT doc_id,
         {hash_cols}
  FROM shingles GROUP BY doc_id
), bands AS (
{bands_union}
)
SELECT band, band_key, count(*) AS bucket_size,
       array_to_string(list_sort(list(doc_id)), '|') AS members
FROM bands
GROUP BY band, band_key
HAVING count(*) > 1
ORDER BY band, band_key
"""
    )


# -- MinHash banding recall/precision vs exact Jaccard ------------------------
# The eval the text-dedup path needs (ivf_recall_eval's counterpart): on
# the bounded doc set where the exact pair list is computable, measure how
# many true Jaccard pairs the band-candidate generator recovers (recall)
# and how much it over-generates (precision).  Both sides reuse the
# production operators unchanged, so the numbers describe the REAL plans.
# Scale posture: ground truth is definitionally quadratic, hence the
# bounded eval set; the candidate side stays the subquadratic band join.


def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    cands = minhash_candidate_pairs(docs).select(
        "doc_a", "doc_b", F.lit(1).alias("is_cand")
    )
    truth = _jaccard_pairs_core(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    return truth.join(cands, ["doc_a", "doc_b"], "full_outer").agg(
        F.count("is_true").alias("n_true_pairs"),
        F.count("is_cand").alias("n_candidates"),
        F.count(F.when(F.col("is_true").isNotNull() & F.col("is_cand").isNotNull(), F.lit(1))).alias("n_hits"),
        rnd(
            F.count(F.when(F.col("is_true").isNotNull() & F.col("is_cand").isNotNull(), F.lit(1)))
            / F.count("is_true"),
            4,
        ).alias("recall"),
        rnd(
            F.count(F.when(F.col("is_true").isNotNull() & F.col("is_cand").isNotNull(), F.lit(1)))
            / F.count("is_cand"),
            4,
        ).alias("precision"),
    )


def _minhash_recall_sql() -> str:
    hash_cols = ",\n         ".join(
        f"min(substring(md5(sh), {1 + i * 5}, 5)) AS h{i}"
        for i in range(_MINHASH_K)
    )
    band_selects = []
    for b, (lo, hi) in enumerate(_BANDS):
        key = " || '|' || ".join(f"h{i}" for i in range(lo, hi))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sig"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    return (
        "WITH "
        + _SHINGLES_CTE.format(src="(SELECT * FROM documents WHERE doc_id < 300)")
        + f"""
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
),
truth AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE floor((n_common / (sa.n_sh + sb.n_sh - n_common)) * 10000.0 + 0.5)
          / 10000.0 >= 0.2
),
sig AS (
  -- min over the distinct shingle set == min over the raw multiset, so
  -- the truth CTE's distinct shingles serve the signatures too
  SELECT doc_id,
         {hash_cols}
  FROM shingles GROUP BY doc_id
), bands AS (
{bands_union}
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                           AND a.doc_id < b.doc_id
)
SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
       (SELECT count(*) FROM cands) AS n_candidates,
       (SELECT count(*) FROM truth t JOIN cands c
         ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hits,
       floor(((SELECT count(*) FROM truth t JOIN cands c
               ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1.0
              / (SELECT count(*) FROM truth)) * 10000.0 + 0.5) / 10000.0
           AS recall,
       floor(((SELECT count(*) FROM truth t JOIN cands c
               ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1.0
              / (SELECT count(*) FROM cands)) * 10000.0 + 0.5) / 10000.0
           AS precision
"""
    )


# -- semantic dedup: LSH candidates × embedding verification ------------------
# The production near-dup pipeline composed end-to-end: MinHash banding
# proposes candidate pairs (subquadratic — pairs exist only within a shared
# band bucket), then each candidate is VERIFIED by embedding cosine before
# being declared a duplicate.  Lexical recall, semantic precision.
#
# Scale posture: candidate generation cost ∝ Σ bucket² (the LSH guarantee);
# verification joins the SMALL candidate set against the embedding table by
# id — two hash joins where the big side streams, no pairwise embedding
# scan ever happens.  This is the shape that survives a 100 TB corpus.

_SEMANTIC_DUP_THRESHOLD = 0.5


def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # candidate generation self-joins canonical docs only (hot-bucket
    # guard — see minhash_candidate_pairs); n_bands must stay a LONG here
    # to keep the published schema of this query stable
    pairs = minhash_candidate_pairs(docs).withColumn(
        "n_bands", F.col("n_bands").cast("long")
    )
    ea = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    cos = rnd(_dot("va", "vb") / (_norm("va") * _norm("vb")), 4)
    return (
        pairs.join(ea, F.col("doc_a") == F.col("ia"))
        .join(eb, F.col("doc_b") == F.col("ib"))
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            cos.alias("cos_sim"),
            (cos >= _SEMANTIC_DUP_THRESHOLD).alias("is_semantic_dup"),
        )
        .transform(small_sorted, "doc_a", "doc_b")
    )


def _semantic_dedup_sql() -> str:
    hash_cols = ",\n         ".join(
        f"min(substring(md5(sh), {1 + i * 5}, 5)) AS h{i}"
        for i in range(_MINHASH_K)
    )
    band_selects = []
    for b, (lo, hi) in enumerate(_BANDS):
        key = " || '|' || ".join(f"h{i}" for i in range(lo, hi))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sig"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    cos = (
        "floor(list_cosine_similarity(ea.embedding::DOUBLE[],"
        " eb.embedding::DOUBLE[]) * 10000.0 + 0.5) / 10000.0"
    )
    return (
        "WITH "
        + _SHINGLES_CTE.format(src="documents")
        + f"""
, sig AS (
  SELECT doc_id,
         {hash_cols}
  FROM shingles GROUP BY doc_id
), bands AS (
{bands_union}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, p.n_bands,
       {cos} AS cos_sim,
       {cos} >= {_SEMANTIC_DUP_THRESHOLD} AS is_semantic_dup
FROM pairs p
JOIN embeddings ea ON ea.vec_id = p.doc_a
JOIN embeddings eb ON eb.vec_id = p.doc_b
ORDER BY doc_a, doc_b
"""
    )


# -- SimHash (16-bit) ---------------------------------------------------------
# Per token-occurrence: h16 = first 4 hex chars of md5(token).  Bit b of the
# fingerprint is set iff sum over tokens of (±1 by bit b of h16) is positive.


# The SimHash stages as SQL text: one row per token occurrence with its
# 16-bit hash, the per-doc ±1 bit sums, and the fingerprint they give.
_TOKEN_EXPLODE = f"explode({_WORDS}) AS tok"
_H16 = "CAST(conv(substring(md5(CAST(tok AS BINARY)), 1, 4), 16, 10) AS INT)"
_BIT_SUMS = [
    f"sum(CASE WHEN (shiftright(h16, {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(16)
]
_SIMHASH16 = "CAST({} AS INT) AS simhash16".format(" + ".join(
    ["0"] + [f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16)]
))


def _simhash_frame(docs: DataFrame) -> DataFrame:
    """Unordered (doc_id, simhash16) — the recall eval's fingerprints,
    built as ``simhash_fingerprints`` builds its text.  A shuffle-free
    HOF-fold shape (md5 per token inside ``transform``) was measured 55x
    slower at 100x docs (SCALE_PROBE r13_simhash_ab): Catalyst interprets
    HOF lambdas per element, while this explode shape keeps md5 and the
    ±1 sums in whole-stage codegen."""
    toks = docs.selectExpr("doc_id", _TOKEN_EXPLODE)
    h = toks.withColumn("h16", F.expr(_H16))
    bit_sums = h.groupBy("doc_id").agg(*map(F.expr, _BIT_SUMS))
    return bit_sums.selectExpr("doc_id", _SIMHASH16)


# one row per doc: coalesced one-pass sort (functions/ordering.py)
_SIMHASH_FINGERPRINTS_TEXT = f"""
SELECT /*+ COALESCE(1) */ doc_id, {_SIMHASH16}
FROM (
  SELECT doc_id, {", ".join(_BIT_SUMS)}
  FROM (
    SELECT *, {_H16} AS h16
    FROM (SELECT doc_id, {_TOKEN_EXPLODE} FROM {{documents}})
  )
  GROUP BY doc_id
)
SORT BY doc_id
"""


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_sql(spark, sf_dir, _SIMHASH_FINGERPRINTS_TEXT)


# -- SimHash recall eval ------------------------------------------------------
# The measured companion of the SimHash path (same pattern as
# minhash_recall_eval / ivf_recall_eval): candidates = pairs at fingerprint
# hamming <= 3 found through 4 nibble bands (complete by the same
# pigeonhole as the pHash blocking), truth = exact Jaccard >= 0.2 on the
# bounded eval set.  The numbers it records are themselves the point: at
# sf0.01 the 16-bit fingerprint gives recall 1.0 but precision ~0.001 —
# 16 bits can't separate 300 docs, which is WHY production SimHash is
# 64-bit; the eval makes that sizing decision a measured fact instead of
# folklore.

_SIMHASH_EVAL_MAX_HAMMING = 3


def simhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    sh = _simhash_frame(docs)
    bands = sh.select(
        "doc_id",
        "simhash16",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash16"), 4 * i)
                        .bitwiseAND(15)
                        .alias("nib"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        "simhash16",
        F.col("bk.band").alias("band"),
        F.col("bk.nib").alias("nib"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.nib") == F.col("b.nib"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash16").alias("pa"),
            F.col("b.simhash16").alias("pb"),
        )
        .distinct()
        .filter(
            F.expr("bit_count(pa ^ pb)") <= _SIMHASH_EVAL_MAX_HAMMING
        )
        .select("doc_a", "doc_b", F.lit(1).alias("is_cand"))
    )
    truth = _jaccard_pairs_core(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    hit = F.count(
        F.when(
            F.col("is_true").isNotNull() & F.col("is_cand").isNotNull(),
            F.lit(1),
        )
    )
    return truth.join(cands, ["doc_a", "doc_b"], "full_outer").agg(
        F.count("is_true").alias("n_true_pairs"),
        F.count("is_cand").alias("n_candidates"),
        hit.alias("n_hits"),
        rnd(hit / F.count("is_true"), 4).alias("recall"),
        rnd(hit / F.count("is_cand"), 4).alias("precision"),
    )


def _simhash_sql() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h16 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(16)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::INTEGER AS h16 FROM toks
), bit_sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS INTEGER) AS simhash16
FROM bit_sums
ORDER BY doc_id
"""


def _simhash_recall_sql() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h16 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(16)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash16, {i} AS band,"
        f" (simhash16 >> {4 * i}) & 15 AS nib FROM fps"
        for i in range(4)
    )
    return (
        "WITH "
        + _SHINGLES_CTE.format(
            src="(SELECT * FROM documents WHERE doc_id < 300)"
        )
        + f"""
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
),
truth AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE floor((n_common / (sa.n_sh + sb.n_sh - n_common)) * 10000.0 + 0.5)
          / 10000.0 >= 0.2
),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 300
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::INTEGER AS h16 FROM toks
), bit_sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id
), fps AS (
  SELECT doc_id, CAST({fp} AS INTEGER) AS simhash16 FROM bit_sums
), bands AS (
{band_rows}
), cands AS (
  SELECT doc_a, doc_b FROM (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash16 AS pa, b.simhash16 AS pb
    FROM bands a JOIN bands b ON a.band = b.band AND a.nib = b.nib
                             AND a.doc_id < b.doc_id
  ) WHERE bit_count(xor(pa, pb)) <= {_SIMHASH_EVAL_MAX_HAMMING}
)
SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
       (SELECT count(*) FROM cands) AS n_candidates,
       (SELECT count(*) FROM truth t JOIN cands c
         ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hits,
       floor(((SELECT count(*) FROM truth t JOIN cands c
               ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1.0
              / (SELECT count(*) FROM truth)) * 10000.0 + 0.5) / 10000.0
           AS recall,
       floor(((SELECT count(*) FROM truth t JOIN cands c
               ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1.0
              / (SELECT count(*) FROM cands)) * 10000.0 + 0.5) / 10000.0
           AS precision
"""
    )


# -- near-dup CLUSTERS: connected components over the Jaccard pair graph ------
# Pairwise near-dup lists under-serve a training-data pipeline: to keep one
# representative per duplicate *group* you need the transitive closure
# (A~B, B~C ⇒ {A,B,C} is one group even if A!~C).  Spark side reuses the
# generic distributed min-label propagation kernel (operators/graph.py);
# the oracle proves the fixpoint against a DuckDB *recursive CTE* computing
# reachability closure over the identical edge set — an iterative operator
# with an exact SQL oracle.


def near_dup_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import min_label_components

    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").alias("node"))
    )
    edges = _jaccard_pairs_core(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = min_label_components(nodes, edges, max_iter=15)
    frame = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list("node")),
                lambda x: x.cast("string"),
            ),
        ).alias("members"),
    )
    # r13 sort-drop, cluster-family sweep (see ngram_jaccard_pairs): the
    # component table is bounded by the doc_id < 300 gate, so the global
    # order is a report-shape concern — small_sorted keeps it without the
    # range exchange + sampler job.  A/B: SCALE_PROBE r13_dedupfinals_ab.
    return small_sorted(frame, "component")


_NEAR_DUP_CLUSTERS_SQL = (
    "WITH RECURSIVE "
    + _SHINGLES_CTE.format(src="(SELECT * FROM documents WHERE doc_id < 300)")
    + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE floor((n_common / (sa.n_sh + sb.n_sh - n_common)) * 10000.0 + 0.5)
          / 10000.0 >= 0.2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT x.label AS component, count(*) AS n_docs,
       array_to_string(list(node ORDER BY node), '|') AS members
FROM (SELECT node, min(label) AS label FROM reach GROUP BY node) x
GROUP BY x.label
ORDER BY component
"""
)

# -- near-dup survivors: the curation deliverable -----------------------------
# What the pipeline actually SHIPS to training: for every multi-document
# near-dup component, the single copy to keep, chosen by source priority
# (lower numeric source rank wins — e.g. curated > scraped — doc_id as
# the deterministic tiebreak).  One component-keyed exchange serves both
# the priority window and the member count (same partition key).


def near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .graph import min_label_components

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = _jaccard_pairs_core(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = min_label_components(nodes, edges, max_iter=15)
    # unranked sources (no numeric suffix) sort LAST on both engines:
    # Spark casts '' to null (sorts first ASC!) and DuckDB errors on the
    # cast — coalesce/TRY_CAST to a sentinel keeps the order portable
    src_rank = F.coalesce(
        F.regexp_extract("source", "([0-9]+)$", 1).cast("int"),
        F.lit(2147483647),
    )
    joined = comp.join(
        docs.select("doc_id", "source"),
        comp["node"] == F.col("doc_id"),
    ).select("component", "doc_id", "source", src_rank.alias("src_rank"))
    w = Window.partitionBy("component")
    ranked = joined.withColumn(
        "rn", F.row_number().over(w.orderBy("src_rank", "doc_id"))
    ).withColumn("n_docs", F.count(F.lit(1)).over(w))
    frame = ranked.filter((F.col("rn") == 1) & (F.col("n_docs") > 1)).select(
        "component",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("source").alias("kept_source"),
        "n_docs",
    )
    # r13 sort-drop, cluster-family sweep (see ngram_jaccard_pairs).
    return small_sorted(frame, "component")


_NEAR_DUP_SURVIVORS_SQL = (
    "WITH RECURSIVE "
    + _SHINGLES_CTE.format(src="(SELECT * FROM documents WHERE doc_id < 300)")
    + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE floor((n_common / (sa.n_sh + sb.n_sh - n_common)) * 10000.0 + 0.5)
          / 10000.0 >= 0.2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
lab AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
ranked AS (
  SELECT l.label, d.doc_id, d.source,
         row_number() OVER (
           PARTITION BY l.label
           ORDER BY COALESCE(TRY_CAST(regexp_extract(d.source, '([0-9]+)$', 1) AS INTEGER), 2147483647),
                    d.doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY l.label) AS n_docs
  FROM lab l JOIN documents d ON d.doc_id = l.node
)
SELECT label AS component, doc_id AS kept_doc_id, source AS kept_source,
       n_docs
FROM ranked
WHERE rn = 1 AND n_docs > 1
ORDER BY component
"""
)


# -- fuzzy matching: edit-distance near-identical part names ------------------
# Blocked all-pairs on a LOSSLESS composite canopy: (p_brand, length band).
# edit_dist <= 2 forces |len(a)-len(b)| <= 2, so banding names by
# floor(len/W) and duplicating the probe side into the (at most 2) bands
# its +/-2 window can reach finds every qualifying pair exactly once while
# multiplying block-key cardinality by the number of length bands — per-block
# candidate sets shrink quadratically vs brand-only blocking, which at 100x
# data is the difference between 25 quadratic blocks and thousands of small
# ones.  `levenshtein` is a JVM builtin in Spark and a native function in
# DuckDB with identical unit-cost edit-distance semantics.

_LEN_BAND = 4


def part_name_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop, sweep 3: the banded join is broadcast-only (no data
    # exchange anywhere), so the final global ORDER BY's range sampler
    # re-executed the ENTIRE levenshtein band join — the most expensive
    # upstream in the sweep running twice per execution — then range-
    # exchanged the pair rows for an order the oracle canonicalizes.
    # A/B: SCALE_PROBE r13_sortdrop3_ab.
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_name", F.length("p_name").alias("nlen")
    )
    # probe side: explode into every band its [len-2, len+2] window touches
    # (floor is monotone, so that set is {floor((len-2)/W), floor((len+2)/W)}
    # — at most 2 bands for W >= 3)
    lo = F.floor((F.col("nlen") - 2) / _LEN_BAND)
    hi = F.floor((F.col("nlen") + 2) / _LEN_BAND)
    a = part.select(
        F.col("p_partkey").alias("pk_a"),
        "p_brand",
        F.col("p_name").alias("name_a"),
        F.col("nlen").alias("nlen_a"),
        F.explode(F.array_distinct(F.array(lo, hi))).alias("len_band"),
    )
    # build side: each name sits in exactly its own band, so every
    # qualifying pair is produced exactly once
    b = part.select(
        F.col("p_partkey").alias("pk_b"),
        "p_brand",
        F.col("p_name").alias("name_b"),
        F.col("nlen").alias("nlen_b"),
        F.floor(F.col("nlen") / _LEN_BAND).alias("len_band"),
    )
    pairs = (
        a.join(b, ["p_brand", "len_band"])
        .filter(
            (F.col("pk_a") < F.col("pk_b"))
            & (F.abs(F.col("nlen_a") - F.col("nlen_b")) <= 2)
        )
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 2)
        .select(
            "p_brand",
            F.col("pk_a").alias("part_a"),
            F.col("pk_b").alias("part_b"),
            "edit_dist",
        )
    )
    return pairs.sortWithinPartitions("p_brand", "part_a", "part_b")


_LEVENSHTEIN_SQL = """
SELECT a.p_brand, a.p_partkey AS part_a, b.p_partkey AS part_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a
JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY a.p_brand, part_a, part_b
"""


# -- benchmark decontamination ------------------------------------------------
# Training-data hygiene: flag corpus documents sharing any word 3-gram with
# a held-out benchmark set (doc_id < 20 stands in for the eval corpus).
# Spark-first shape: the benchmark shingle set is broadcast-sized by
# construction (eval sets are small), so the inverted-index probe is a
# broadcast inner join evaluated narrowly against the corpus shingle scan —
# the only shuffle is the per-doc hit count, which map-side partials shrink
# to one row per contaminated doc.  At 100 TB the corpus streams through a
# single scan; nothing quadratic, nothing driver-side.

_BENCH_DOCS = 20


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench_sh = (
        _shingles(docs.filter(F.col("doc_id") < _BENCH_DOCS))
        .select("sh")
        .distinct()
    )
    corpus_sh = _shingles(docs.filter(F.col("doc_id") >= _BENCH_DOCS))
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .transform(small_sorted, "doc_id")
    )


_CONTAMINATION_SQL = f"""
WITH
cwords AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE doc_id >= {_BENCH_DOCS}),
cshingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[g:g+2], ' ') AS sh
  FROM cwords, unnest(generate_series(1, greatest(len(w)-2, 0))) AS t(g)),
bwords AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE doc_id < {_BENCH_DOCS}),
bshingles AS (
  SELECT DISTINCT array_to_string(w[g:g+2], ' ') AS sh
  FROM bwords, unnest(generate_series(1, greatest(len(w)-2, 0))) AS t(g))
SELECT c.doc_id, count(*) AS n_shared_shingles
FROM cshingles c JOIN bshingles b ON c.sh = b.sh
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


# -- substring-level (span) dedup signal --------------------------------------
# Document-level dedup misses the pervasive PARTIAL overlap in web corpora:
# boilerplate headers, quoted paragraphs, syndicated passages.  The
# established signal (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better") is span-level: how much of each document is made
# of long n-gram spans that also occur elsewhere in the corpus.  This
# operator scores every document with the fraction of its 8-token grams
# whose corpus-wide occurrence count exceeds 1 — the filter column an LLM
# pipeline thresholds on (e.g. drop docs > 0.8, trim spans > 0.2).
#
# Scale shape (100 TB): explode to one row per gram position (linear in
# corpus token count), one hash-agg keyed by gram (map-side partials absorb
# the duplicate mass), one shuffle join back keyed by gram, one per-doc
# agg.  All linear — this is the shuffle-heavy-but-scalable shape, unlike
# suffix-array exact-substring dedup which needs a specialized sort.  In
# production the join key is xxhash64(gram) (8-byte keys instead of ~50-byte
# strings, ~6x narrower shuffle); the oracle-facing query keeps the string
# key because DuckDB's hash() differs from Spark's xxhash64.

_SPAN_N = 8  # tokens per gram — long enough that a shared gram means copying


def duplicated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop, sweep 3: the final ORDER BY's range sampler re-ran
    # the probe side of the last broadcast join (docs scan + left join)
    # and the exchange carried every per-doc row, buying an order the
    # oracle canonicalizes.  A/B: SCALE_PROBE r13_sortdrop3_ab.
    n = _SPAN_N
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.expr("filter(split(text, ' '), t -> t != '')").alias("t")
    )
    grams = toks.filter(F.expr(f"size(t) >= {n}")).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {n - 1}),"
                f" i -> concat_ws(' ', slice(t, i, {n})))"
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("cnt") > 1, F.lit(1))).alias("dup_grams"),
        )
    )
    frame = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce(F.col("dup_grams"), F.lit(0).cast("long")).alias(
                "dup_grams"
            ),
            F.when(F.col("n_grams").isNull(), F.lit(0.0))
            .otherwise(rnd(F.col("dup_grams") / F.col("n_grams").cast("double"), 6))
            .alias("dup_fraction"),
        )
    )
    return frame.sortWithinPartitions("doc_id")


_SPAN_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(t[g:g+{_SPAN_N - 1}], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - {_SPAN_N - 1})) AS s(g)
  WHERE len(t) >= {_SPAN_N}
), counts AS (SELECT gram, count(*) AS cnt FROM grams GROUP BY gram),
per_doc AS (
  SELECT doc_id, count(*) AS n_grams,
         count(*) FILTER (WHERE cnt > 1) AS dup_grams
  FROM grams JOIN counts USING (gram) GROUP BY doc_id)
SELECT d.doc_id, coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.dup_grams, 0) AS dup_grams,
       CASE WHEN p.n_grams IS NULL THEN 0.0
            ELSE floor(p.dup_grams / CAST(p.n_grams AS DOUBLE) * 1000000.0 + 0.5)
                 / 1000000.0
       END AS dup_fraction
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


# -- per-document keep/drop decisions (the attribute+filter capstone) ---------
# Dolma-style curation shape: every filter signal is materialized as an
# ATTRIBUTE column next to the decision, so a threshold change is a
# re-filter over attributes — never a recompute of the signals — and
# every dropped doc carries WHY it was dropped.  One Catalyst plan
# composes the exact-dup canonical choice (window over the fingerprint),
# the span-dedup coverage (gram hash-agg + join-back), and the token
# count; `reason` applies the rules in a fixed priority order.
#
# Scale shape: the union of its parts — one fingerprint window exchange,
# one gram agg + join-back, all linear; output is per-doc.

_MIN_TOKENS = 5
_MAX_DUP_FRACTION = 0.5


def corpus_keep_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop, sweep 3: the final ORDER BY's range sampler re-ran
    # everything after the md5-window's hash exchange — the docs re-scan
    # (with text), the token count, and both broadcast joins — and the
    # exchange carried every per-doc decision row.  The order is oracle-
    # canonicalized.  A/B: SCALE_PROBE r13_sortdrop3_ab.
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    with_fp = docs.select(
        "doc_id",
        "text",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.size(F.expr("filter(split(text, ' '), t -> t != '')")).alias(
            "n_tokens"
        ),
    )
    canonical = with_fp.withColumn(
        "is_canonical",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp")),
    )
    spans = duplicated_ngram_coverage(spark, sf_dir).select(
        "doc_id", "dup_fraction"
    )
    attrs = canonical.join(spans, "doc_id")
    reason = (
        F.when(~F.col("is_canonical"), F.lit("exact_duplicate"))
        .when(F.col("n_tokens") < _MIN_TOKENS, F.lit("too_short"))
        .when(
            F.col("dup_fraction") > _MAX_DUP_FRACTION,
            F.lit("duplicated_spans"),
        )
        .otherwise(F.lit("keep"))
    )
    frame = attrs.select(
        "doc_id",
        "n_tokens",
        "is_canonical",
        "dup_fraction",
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )
    return frame.sortWithinPartitions("doc_id")


_KEEP_DECISIONS_SQL = f"""
WITH spans AS ({_SPAN_COVERAGE_SQL.replace("ORDER BY d.doc_id", "")}),
attrs AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM documents
), decided AS (
  SELECT a.doc_id, a.n_tokens, a.is_canonical, s.dup_fraction,
         CASE WHEN NOT a.is_canonical THEN 'exact_duplicate'
              WHEN a.n_tokens < {_MIN_TOKENS} THEN 'too_short'
              WHEN s.dup_fraction > {_MAX_DUP_FRACTION} THEN 'duplicated_spans'
              ELSE 'keep' END AS reason
  FROM attrs a JOIN spans s USING (doc_id)
)
SELECT doc_id, n_tokens, is_canonical, dup_fraction, reason,
       reason = 'keep' AS keep
FROM decided
ORDER BY doc_id
"""


# -- cross-source duplicate leakage -------------------------------------------


def cross_source_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts by (source, source) cell — the curation
    question behind it: does deduplicating WITHIN each source suffice, or
    do duplicates leak ACROSS source boundaries (cells with
    ``source_a != source_b``), forcing a global pass?  Mirrors the
    cross-source overlap audits in public corpus reports (C4/Dolma-style
    source mixing), composed from the same verified Jaccard pair
    generator as the rest of the near-dup family.

    Scale shape: the pair set is the already-bounded near-dup output
    (linear in true duplicates, not O(N²)); the two source-label attaches
    broadcast the bounded doc-id side; the final cell agg groups on at
    most |sources|² keys.  Mean Jaccard is summed in int 1e-4 units so
    the cell mean is partition-order-independent.
    """
    pairs = _jaccard_pairs_core(spark, sf_dir)
    # r14: gate the label side like the pair side — every pair key is
    # doc_id < 300 by construction (inner joins), so broadcasting the
    # UNGATED projection shipped |documents| rows to every executor for
    # a ≤300-row lookup (guide §3.1 "driver memory to collect it,
    # executor memory to hold it"); at 100x that was a 50M-row broadcast
    # build per execution.  Rows unchanged (oracle tier); the speed-up
    # is unmeasured — no probe entry exists for it.
    src = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "source")
    )
    labeled = (
        pairs.join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("sa"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("sb"),
                )
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
    )
    frame = (
        labeled.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
            rnd(
                F.sum(
                    F.floor(F.col("jaccard") * F.lit(10000.0) + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / (F.count(F.lit(1)) * F.lit(10000.0)),
                4,
            ).alias("mean_jaccard"),
        )
        .withColumn(
            "is_cross_source", F.col("source_a") != F.col("source_b")
        )
    )
    # r13 sort-drop, cluster-family sweep (see ngram_jaccard_pairs):
    # at most |sources|² cells — report-shaped.
    return small_sorted(frame, "source_a", "source_b")


def _cross_source_leakage_sql() -> str:
    from ..functions.rounding import rnd_sql

    mean = rnd_sql("sum(CAST(floor(jaccard * 10000.0 + 0.5) AS BIGINT)) / (count(*) * 10000.0)", 4)
    return f"""
WITH pairs AS (
{_JACCARD_SQL}
),
labeled AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         p.jaccard
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT source_a, source_b, count(*) AS n_pairs,
       max(jaccard) AS max_jaccard,
       {mean} AS mean_jaccard,
       source_a <> source_b AS is_cross_source
FROM labeled GROUP BY source_a, source_b ORDER BY source_a, source_b
"""


QUERIES = {
    "exact_dedup_groups": exact_dedup_groups,
    "duplicated_ngram_coverage": duplicated_ngram_coverage,
    "corpus_keep_decisions": corpus_keep_decisions,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "cross_source_dup_leakage": cross_source_dup_leakage,
    "minhash_band_buckets": minhash_band_buckets,
    "semantic_dedup_pairs": semantic_dedup_pairs,
    "minhash_recall_eval": minhash_recall_eval,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_recall_eval": simhash_recall_eval,
    "near_dup_doc_clusters": near_dup_doc_clusters,
    "near_dup_survivors": near_dup_survivors,
    "part_name_levenshtein_pairs": part_name_levenshtein_pairs,
    "benchmark_contamination": benchmark_contamination,
}

ORACLE = {
    "exact_dedup_groups": _EXACT_DEDUP_SQL,
    "duplicated_ngram_coverage": _SPAN_COVERAGE_SQL,
    "corpus_keep_decisions": _KEEP_DECISIONS_SQL,
    "ngram_jaccard_pairs": _JACCARD_SQL,
    "cross_source_dup_leakage": _cross_source_leakage_sql(),
    "minhash_band_buckets": _minhash_sql(),
    "semantic_dedup_pairs": _semantic_dedup_sql(),
    "minhash_recall_eval": _minhash_recall_sql(),
    "simhash_fingerprints": _simhash_sql(),
    "simhash_recall_eval": _simhash_recall_sql(),
    "near_dup_doc_clusters": _NEAR_DUP_CLUSTERS_SQL,
    "near_dup_survivors": _NEAR_DUP_SURVIVORS_SQL,
    "part_name_levenshtein_pairs": _LEVENSHTEIN_SQL,
    "benchmark_contamination": _CONTAMINATION_SQL,
}
