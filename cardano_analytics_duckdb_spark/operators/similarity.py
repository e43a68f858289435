"""Similarity search over the ``embeddings`` table (``array<float>``, 64-d).

LLM-pipeline extension (driver spec, SURVEY §7.6): brute-force cosine top-k
as the correctness baseline, random-hyperplane LSH bucketing as the scale
path, and embedding-cosine near-duplicate pairs.

Numeric determinism: all vector math is promoted to DOUBLE on both sides
(DuckDB's ``list_cosine_similarity`` computes in float32 when fed FLOAT[] —
the oracles cast to DOUBLE[] explicitly), and similarities are rounded
before comparison so sequential-summation differences below 1e-6 can't
break the hash.

Scale notes (100 TB posture):
- brute-force top-k is one narrow map (JVM-side `aggregate`/`zip_with`, no
  Python) + TakeOrderedAndProject — scans N rows once, no shuffle.
- LSH bucketing maps each vector to a bucket id (narrow), then groups by
  bucket: one shuffle keyed by bucket; pair generation stays within buckets.
- hyperplanes are compile-time literals (seeded), broadcast implicitly as
  part of the plan — no driver-side collect of data.
"""

from __future__ import annotations

import math
import os
import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ordering import small_sorted
from ..functions.rounding import double_lit, rnd, rnd_expr
from ..lake.tables import lake_sql, load_table

_DIM = 64


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" {double_lit(0.0)}, (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, {double_lit(0.0)},"
        " (acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def _norm(a: str) -> Column:
    return F.expr(_norm_sql(a))


# -- brute-force cosine top-k vs an in-data query vector ----------------------

# One query VECTOR is a 1-row "dimension": snapshot it once per lake (same
# content-signature-keyed idiom as relational._collected_dim) and
# fold it into the plan as a literal array.  The previous shape — filter
# vec_id == 0 → broadcast → cross — cost a second table scan and a separate
# broadcast-build job on every execution, pure overhead for 64 doubles that
# never change under the lake's immutable-files contract.  With the literal,
# the whole query is ONE job: scan → codegen projection → TakeOrdered.
_QUERY_VEC_CACHE: dict[tuple, tuple] = {}


def _query_vec(
    spark: SparkSession, sf_dir: str, vec_id: int = 0
) -> tuple[float, ...]:
    from ..lake.fsutil import shared_lake_fs

    path = os.path.join(sf_dir, "embeddings.parquet")
    sig = shared_lake_fs(spark, path).content_signature(path)
    key = (sf_dir, vec_id, sig)
    if key not in _QUERY_VEC_CACHE:
        for old in [k for k in _QUERY_VEC_CACHE if k[:2] == (sf_dir, vec_id)]:
            del _QUERY_VEC_CACHE[old]
        rows = (
            spark.read.parquet(path)
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .collect()
        )
        if len(rows) != 1:
            raise ValueError(
                f"_query_vec: expected exactly one vec_id={vec_id} row, "
                f"got {len(rows)}"
            )
        _QUERY_VEC_CACHE[key] = tuple(float(v) for v in rows[0][0])
    return _QUERY_VEC_CACHE[key]


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the ANN baseline.  ONE job, joinless:
    the query vector folds to a plan literal (see _QUERY_VEC_CACHE),
    the HOF dot product runs as a JVM column expression, TakeOrdered
    finishes — scan -> projection -> TakeOrdered, zero exchanges.

    r13: an Arrow numpy-matmul kernel was measured and REJECTED
    (SCALE_PROBE r13_cosine_ab, n=7 equal-cache at 200k vectors:
    kernel 0.421 s vs this shape 0.344 s = 1.45x DuckDB).  The ~64
    interpreted lambda evals/row the kernel saves are outweighed by
    Arrow-transferring the full 200k x 64-double embedding column to
    Python (~100 MB/pass) — the work-per-transferred-byte ratio
    decides, the same generalization as the lang_id kernel rejection
    (at 1024+ dims the matmul may amortize the transfer; unmeasured).
    exact_dedup
    re-read 1.67x in the same probe — its old 1.63x was accurate."""
    q = _query_vec(spark, sf_dir, vec_id=0)
    q_norm = math.sqrt(sum(v * v for v in q))
    sim = (f"{_dot_sql('embedding', _plane_lit(q))}"
           f" / ({_norm_sql('embedding')} * {double_lit(q_norm)})")
    return lake_sql(spark, sf_dir, f"""
SELECT vec_id, {rnd_expr(sim, 4)} AS cos_sim
FROM {{embeddings}}
WHERE vec_id != 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""")


_COSINE_TOPK_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       floor((list_cosine_similarity(embedding::DOUBLE[], qv)) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM embeddings, q
WHERE vec_id != 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""

# -- per-label norm statistics (exercises aggregate() over arrays) ------------


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", _norm("embedding").alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            rnd(F.avg("norm"), 4).alias("avg_norm"),
            rnd(F.max("norm"), 4).alias("max_norm"),
        )
        .orderBy("label")
    )


_NORM_STATS_SQL = """
SELECT label, count(*) AS n,
       floor((avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))))) * 10000.0 + 0.5) / 10000.0 AS avg_norm,
       floor((max(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))))) * 10000.0 + 0.5) / 10000.0 AS max_norm
FROM embeddings
GROUP BY label
ORDER BY label
"""

# -- random-hyperplane LSH bucketing (the ANN scale path) ---------------------

_rng = random.Random(20260813)
_PLANES = [
    [round(_rng.gauss(0.0, 1.0), 6) for _ in range(_DIM)] for _ in range(8)
]


def _plane_lit(p) -> str:
    """A vector as a SQL array of double literals (``double_lit``)."""
    return "array(" + ", ".join(map(double_lit, p)) + ")"


_LSH_BUCKETS_TEXT = """
SELECT vec_id, CAST({} AS INT) AS bucket
FROM {{embeddings}}
SORT BY vec_id
""".format(" + ".join(["0"] + [
    f"CASE WHEN {_dot_sql('embedding', _plane_lit(p))} > 0 THEN {1 << i} ELSE 0 END"
    for i, p in enumerate(_PLANES)
]))


def lsh_bucket_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop: the r10 shape persisted the narrow (vec_id, bucket)
    # projection and range-exchanged it so the sampler would not re-run
    # the 8 hyperplane HOF dots (0.68 s vs 0.89/1.07 s then).  The
    # gopher/pii lesson makes all three of those shapes moot: the global
    # order was never needed (the oracle canonicalizes), so the dots run
    # ONCE over the scan partitioning with no exchange, no sampler and —
    # critically — NO persist on the query path (the old cache entry
    # lingered across bench runs).  A/B: SCALE_PROBE r13_sortdrop_ab.
    return lake_sql(spark, sf_dir, _LSH_BUCKETS_TEXT)


def _lsh_sql() -> str:
    terms = []
    for i, p in enumerate(_PLANES):
        lit = "[" + ", ".join(repr(v) for v in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(embedding::DOUBLE[], {lit}),"
            f" x -> x[1] * x[2])) > 0 THEN {1 << i} ELSE 0 END)"
        )
    expr = " + ".join(terms)
    return f"""
SELECT vec_id, CAST({expr} AS INTEGER) AS bucket
FROM embeddings
ORDER BY vec_id
"""


# -- embedding-cosine near-duplicate pairs (bounded brute force) --------------
#
# All-pairs cosine within a group as a numpy kernel over ``applyInPandas``.
# Compared to a θ-join with per-pair `aggregate`/`zip_with` lambdas (the
# first implementation), one Arrow batch + a BLAS matmul is ~10x faster and
# is exactly the kernel the LSH scale path reuses per bucket: candidate
# generation shuffles by bucket key, the quadratic work stays within groups.


def _allpairs_cosine_kernel(min_sim: float = 0.4999):
    """Factory for the per-group kernel, defined locally so cloudpickle
    ships it by value (workers don't have this package importable).

    Kernel: (group cols..., vec_id, embedding) ->
    (group cols..., vec_a, vec_b, raw_sim).  Emits position pairs i<j after
    sorting by vec_id, so vec_a < vec_b.  Pre-filters at raw_sim >=
    ``min_sim`` (conservatively below the caller's exposed threshold); the
    exact filter happens JVM-side on the *rounded* value so results stay
    oracle-comparable.
    """

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        # Hard guard: this kernel is the BOUNDED all-pairs oracle baseline
        # (one Arrow batch, one task, O(n²) memory).  Fail fast rather than
        # silently running unbounded — the subquadratic production path is
        # lsh_bucketed_near_dup_pairs.
        if len(pdf) > 10_000:
            raise ValueError(
                f"all-pairs cosine kernel received {len(pdf)} rows (cap "
                "10000); use lsh_bucketed_near_dup_pairs for unbounded input"
            )
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    c: pd.Series(dtype="int64")
                    for c in pdf.columns
                    if c not in ("vec_id", "embedding")
                }
                | {
                    "vec_a": pd.Series(dtype="int64"),
                    "vec_b": pd.Series(dtype="int64"),
                    "raw_sim": pd.Series(dtype="float64"),
                }
            )
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        n = np.sqrt((V * V).sum(axis=1))
        sims = (V @ V.T) / np.outer(n, n)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= min_sim
        ia, ib = ia[keep], ib[keep]
        out = {"vec_a": ids[ia], "vec_b": ids[ib], "raw_sim": sims[ia, ib]}
        for c in pdf.columns:
            if c not in ("vec_id", "embedding"):
                out[c] = pdf[c].iloc[0]
        return pd.DataFrame(out)

    return kernel


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", "embedding")
    )
    pairs = emb.groupBy(F.lit("all").alias("g")).applyInPandas(
        _allpairs_cosine_kernel(), "vec_a bigint, vec_b bigint, raw_sim double"
    )
    return (
        pairs.select("vec_a", "vec_b", rnd(F.col("raw_sim"), 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.5)
        .orderBy("vec_a", "vec_b")
    )


_NEAR_DUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor((list_cosine_similarity(a.v, b.v)) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE floor((list_cosine_similarity(a.v, b.v)) * 10000.0 + 0.5) / 10000.0 >= 0.5
ORDER BY vec_a, vec_b
"""

# -- IVF top-k: coarse-quantizer ANN (the other scale path) -------------------
# Inverted-file search: assign every vector to its nearest coarse centroid
# (narrow map), then search only the query's cell.  Centroids are seeded
# compile-time literals here; in production they come from k-means
# (pyspark.ml KMeans) and the assignment plan is identical.  At 100 TB the
# cell assignment is the partition key — the probe touches 1/n_cells of the
# data instead of all of it.

_IVF_CENTROIDS = [
    [round(_rng.gauss(0.0, 0.5), 6) for _ in range(_DIM)] for _ in range(4)
]


def _cell_expr(vec_col: str) -> Column:
    # argmin over squared L2 distance to each centroid, as a fold over
    # (distance, index) pairs — JVM-side, no UDF
    dists = [
        F.expr(
            f"aggregate(zip_with({vec_col}, {_plane_lit(c)},"
            " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        )
        for c in _IVF_CENTROIDS
    ]
    cell = F.lit(0)
    best = dists[0]
    for i in range(1, len(dists)):
        cell = F.when(dists[i] < best, F.lit(i)).otherwise(cell)
        best = F.when(dists[i] < best, dists[i]).otherwise(best)
    return cell


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    with_cell = emb.select("vec_id", "embedding", _cell_expr("embedding").alias("cell"))
    query = with_cell.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"), F.col("cell").alias("qcell")
    )
    sim = _dot("embedding", "q") / (_norm("embedding") * _norm("q"))
    return (
        with_cell.filter(F.col("vec_id") != 0)
        .join(F.broadcast(query), F.col("cell") == F.col("qcell"))
        .select("vec_id", "cell", rnd(sim, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


def _ivf_sql() -> str:
    def dist(c: list[float]) -> str:
        lit = "[" + ", ".join(repr(v) for v in c) + "]::DOUBLE[]"
        return (
            f"list_sum(list_transform(list_zip(embedding::DOUBLE[], {lit}),"
            " x -> (x[1] - x[2]) * (x[1] - x[2])))"
        )

    # same fold order as the Spark expression: later centroid wins only on
    # strictly smaller distance
    cell = "0"
    best = dist(_IVF_CENTROIDS[0])
    for i in range(1, len(_IVF_CENTROIDS)):
        d = dist(_IVF_CENTROIDS[i])
        cell = f"(CASE WHEN {d} < {best} THEN {i} ELSE {cell} END)"
        best = f"(CASE WHEN {d} < {best} THEN {d} ELSE {best} END)"
    return f"""
WITH cells AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, CAST({cell} AS INTEGER) AS cell
  FROM embeddings
), q AS (SELECT v AS qv, cell AS qcell FROM cells WHERE vec_id = 0)
SELECT c.vec_id, c.cell,
       floor((list_cosine_similarity(c.v, q.qv)) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM cells c, q
WHERE c.vec_id != 0 AND c.cell = q.qcell
ORDER BY cos_sim DESC, c.vec_id
LIMIT 10
"""


# -- IVF recall evaluation ----------------------------------------------------
# The companion every ANN index needs: recall@k of the IVF probe against the
# exact brute-force ranking, per query point.  Both rankings rank the SAME
# rounded similarity with a vec_id tiebreak, so the result is deterministic
# and engine-portable.
#
# Scale posture: the eval set is bounded (here 20 query points) — brute
# force over Q×N pairs is the DEFINITION of the ground truth, not a scale
# bug; the corpus side streams through a broadcast of the queries (one
# narrow pass, no candidate shuffle) and the two window ranks shuffle only
# by the Q bounded keys.  For large eval sets, swap the window rank for the
# ``knn_join_topk`` mapInPandas reducer — the ground-truth cost is the same.

_EVAL_Q = 20  # query points: vec_id < 20
_EVAL_K = 10


def ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    with_cell = emb.select(
        "vec_id", "embedding", _cell_expr("embedding").alias("cell")
    )
    q = with_cell.filter(F.col("vec_id") < _EVAL_Q).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q"),
        F.col("cell").alias("qcell"),
    )
    sim = rnd(_dot("embedding", "q") / (_norm("embedding") * _norm("q")), 4)
    pairs = (
        with_cell.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            sim.alias("cos_sim"),
            (F.col("cell") == F.col("qcell")).alias("same_cell"),
        )
    )
    w_exact = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    w_cell = Window.partitionBy("q_id", "same_cell").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    k = F.lit(_EVAL_K)
    ranked = pairs.withColumn(
        "exact_rank", F.row_number().over(w_exact)
    ).withColumn("cell_rank", F.row_number().over(w_cell))
    retrieved = F.col("same_cell") & (F.col("cell_rank") <= k)
    return (
        ranked.groupBy("q_id")
        .agg(
            F.count(F.when(retrieved, F.lit(1))).alias("n_retrieved"),
            F.count(
                F.when((F.col("exact_rank") <= k) & retrieved, F.lit(1))
            ).alias("n_hits"),
        )
        .select(
            "q_id",
            "n_retrieved",
            "n_hits",
            rnd(F.col("n_hits") / k.cast("double"), 4).alias("recall_at_10"),
        )
        .transform(small_sorted, "q_id")
    )


def _ivf_recall_sql() -> str:
    def dist(c: list[float]) -> str:
        lit = "[" + ", ".join(repr(v) for v in c) + "]::DOUBLE[]"
        return (
            f"list_sum(list_transform(list_zip(embedding::DOUBLE[], {lit}),"
            " x -> (x[1] - x[2]) * (x[1] - x[2])))"
        )

    cell = "0"
    best = dist(_IVF_CENTROIDS[0])
    for i in range(1, len(_IVF_CENTROIDS)):
        d = dist(_IVF_CENTROIDS[i])
        cell = f"(CASE WHEN {d} < {best} THEN {i} ELSE {cell} END)"
        best = f"(CASE WHEN {d} < {best} THEN {d} ELSE {best} END)"
    return f"""
WITH cells AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, CAST({cell} AS INTEGER) AS cell
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, cell AS qcell FROM cells WHERE vec_id < {_EVAL_Q}
), p AS (
  SELECT q.q_id, c.vec_id,
         floor((list_cosine_similarity(c.v, q.qv)) * 10000.0 + 0.5) / 10000.0 AS cos_sim,
         c.cell = q.qcell AS same_cell
  FROM cells c, q WHERE c.vec_id != q.q_id
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS exact_rank,
         row_number() OVER (PARTITION BY q_id, same_cell
                            ORDER BY cos_sim DESC, vec_id) AS cell_rank
  FROM p
)
SELECT q_id,
       count(*) FILTER (WHERE same_cell AND cell_rank <= {_EVAL_K}) AS n_retrieved,
       count(*) FILTER (WHERE exact_rank <= {_EVAL_K}
                        AND same_cell AND cell_rank <= {_EVAL_K}) AS n_hits,
       floor((count(*) FILTER (WHERE exact_rank <= {_EVAL_K}
                               AND same_cell AND cell_rank <= {_EVAL_K})
              / {float(_EVAL_K)}) * 10000.0 + 0.5) / 10000.0 AS recall_at_10
FROM r
GROUP BY q_id
ORDER BY q_id
"""


# -- LSH-bucketed near-dup pairs: the subquadratic ANN scale path -------------
# Candidate pairs are generated only within a shared random-hyperplane
# bucket: one shuffle keyed by (band, bucket), quadratic work bounded by
# bucket size.  Same numpy kernel as the brute-force baseline, applied per
# group — at 100 TB this is the shape that holds (cost ∝ Σ bucket², not N²).
#
# Scale-adaptive banding: plane count per band is derived from corpus size
# (``lsh_banding_params``) so the EXPECTED bucket size stays a 16× safety
# margin under the kernel's hard cap however large N grows — at 1e12 rows
# the sizing picks ~32 planes (~4e9 buckets) instead of the fixed 8 planes
# (256 buckets) that would funnel ~4e9 rows into each group and trip the
# fail-fast guard.  Recall is recovered with a multi-band OR-construction
# (a pair is a candidate if it collides in ANY band), the same scheme
# ``minhash_band_buckets`` uses for MinHash.


def lsh_banding_params(
    n_rows: int,
    bucket_cap: int = 4096,
    min_planes: int = 4,
    max_planes: int = 40,
) -> int:
    """Smallest hyperplane count whose *expected* bucket size (n_rows /
    2^planes) keeps a 16× safety margin under ``bucket_cap`` — the margin
    absorbs the bucket-size skew of biased (non-mean-centered) corpora,
    where planes nearly parallel to the bias direction stop splitting
    (empirically ~13× worst-bucket inflation at |bias| = E|noise|; see
    tests/test_properties.py).  Pure so it is property-testable; clamped to
    [min_planes, max_planes] (40 planes = ~1e12 buckets, enough for any
    corpus that fits in 100 TB)."""
    import math

    target = max(1.0, bucket_cap / 16.0)
    p = math.ceil(math.log2(max(2.0, n_rows / target)))
    return max(min_planes, min(max_planes, p))


def _band_planes(band: int, n_planes: int) -> list[list[float]]:
    """Deterministic per-band hyperplanes (seeded by band index and plane
    count) — plan literals, no driver-side data collection."""
    rng = random.Random(20260813 + 1_000_003 * band + n_planes)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(_DIM)]
        for _ in range(n_planes)
    ]


def _bucket_expr(planes: list[list[float]]) -> Column:
    """Sign-bit bucket id over the given hyperplanes, as a LONG (plane
    counts above 31 need the wider id space)."""
    return sum(
        [
            F.when(
                _dot("embedding", _plane_lit(p)) > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            for i, p in enumerate(planes)
        ],
        F.lit(0).cast("long"),
    )


def lsh_near_dup_pairs(
    spark: SparkSession,
    emb: DataFrame,
    *,
    planes_by_band: list[list[list[float]]] | None = None,
    n_bands: int = 2,
    planes_per_band: int | None = None,
    bucket_cap: int = 4096,
    prefilter_sim: float = 0.4999,
) -> DataFrame:
    """Generic banded-LSH candidate engine over (vec_id, embedding).

    Returns raw candidate pairs (band, bucket, vec_a, vec_b, raw_sim) with
    raw_sim >= ``prefilter_sim`` — callers dedupe across bands / round /
    threshold / order.  When ``planes_by_band`` is not pinned, the plane
    count is derived from the corpus size (one cheap count job) via
    ``lsh_banding_params`` so bucket sizes stay bounded at any N.
    """
    if planes_by_band is None:
        if planes_per_band is None:
            planes_per_band = lsh_banding_params(emb.count(), bucket_cap)
        planes_by_band = [
            _band_planes(b, planes_per_band) for b in range(n_bands)
        ]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"), _bucket_expr(planes).alias("bucket")
            )
            for b, planes in enumerate(planes_by_band)
        ]
    )
    with_bands = (
        emb.select("vec_id", "embedding", F.explode(band_structs).alias("bb"))
        .select(
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
            "vec_id",
            "embedding",
        )
    )
    return with_bands.groupBy("band", "bucket").applyInPandas(
        _allpairs_cosine_kernel(prefilter_sim),
        "vec_a bigint, vec_b bigint, raw_sim double, band int, bucket bigint",
    )


def lsh_bucketed_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs = lsh_near_dup_pairs(spark, emb, planes_by_band=[_PLANES])
    return (
        pairs.select(
            F.col("bucket").cast("int").alias("bucket"),
            "vec_a",
            "vec_b",
            rnd(F.col("raw_sim"), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.5)
        .orderBy("bucket", "vec_a", "vec_b")
    )


# Multi-band OR-construction with import-time-pinned parameters (2 bands ×
# 6 planes) so the result is static-SQL-checkable; the auto-sized path is
# the same engine with planes_by_band=None and is covered by the bounded-
# bucket property tests.
_MB_BANDS = 2
_MB_PLANES = 6
_MB_PLANES_BY_BAND = [_band_planes(b, _MB_PLANES) for b in range(_MB_BANDS)]


# 0.35 threshold (vs the single-band query's 0.5): the driver's synthetic
# embeddings are near-orthogonal random vectors whose max pairwise cosine
# at sf0.01 is ~0.51, so 0.5 yields empty results at the correctness SF;
# 0.35 keeps the driver row populated while exercising the same plan.
_MB_THRESHOLD = 0.35


def lsh_multiband_near_dup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs = lsh_near_dup_pairs(
        spark,
        emb,
        planes_by_band=_MB_PLANES_BY_BAND,
        prefilter_sim=_MB_THRESHOLD - 0.0001,
    )
    # OR across bands: a pair that collides in several bands appears once.
    return (
        pairs.groupBy("vec_a", "vec_b")
        .agg(
            F.count("*").cast("int").alias("n_bands_hit"),
            rnd(F.max("raw_sim"), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _MB_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


def _band_bucket_sql(planes: list[list[float]]) -> str:
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(embedding::DOUBLE[], {lit}),"
            f" x -> x[1] * x[2])) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def _lsh_multiband_sql() -> str:
    per_band = []
    for b, planes in enumerate(_MB_PLANES_BY_BAND):
        per_band.append(
            f"""b{b} AS (
  SELECT vec_id, CAST({_band_bucket_sql(planes)} AS BIGINT) AS bucket,
         embedding::DOUBLE[] AS v
  FROM embeddings
)"""
        )
    pair_selects = "\nUNION ALL\n".join(
        f"""SELECT a.vec_id AS vec_a, x.vec_id AS vec_b,
       list_cosine_similarity(a.v, x.v) AS raw_sim
FROM b{b} a JOIN b{b} x ON a.bucket = x.bucket AND a.vec_id < x.vec_id"""
        for b in range(_MB_BANDS)
    )
    return f"""
WITH {", ".join(per_band)}, cand AS (
{pair_selects}
)
SELECT vec_a, vec_b, CAST(count(*) AS INTEGER) AS n_bands_hit,
       floor((max(raw_sim)) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM cand
GROUP BY vec_a, vec_b
HAVING floor((max(raw_sim)) * 10000.0 + 0.5) / 10000.0 >= {_MB_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def _lsh_near_dup_sql() -> str:
    terms = []
    for i, p in enumerate(_PLANES):
        lit = "[" + ", ".join(repr(v) for v in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(embedding::DOUBLE[], {lit}),"
            f" x -> x[1] * x[2])) > 0 THEN {1 << i} ELSE 0 END)"
        )
    expr = " + ".join(terms)
    return f"""
WITH b AS (
  SELECT vec_id, CAST({expr} AS INTEGER) AS bucket, embedding::DOUBLE[] AS v
  FROM embeddings
)
SELECT a.bucket, a.vec_id AS vec_a, x.vec_id AS vec_b,
       floor((list_cosine_similarity(a.v, x.v)) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
WHERE floor((list_cosine_similarity(a.v, x.v)) * 10000.0 + 0.5) / 10000.0 >= 0.5
ORDER BY a.bucket, vec_a, vec_b
"""


# -- per-dimension statistics -------------------------------------------------
# feature-drift / normalization pass: mean per (label, dimension).  Spark
# `posexplode` ↔ DuckDB `unnest ... WITH ORDINALITY` (1-based, hence ord-1).
# Sums are micro-quantized int64 (floor(x·1e6+0.5)) so they are exact and
# summation-order-independent — float partial sums differ per engine and
# would flip the rounded mean on some of the label×dim output groups.
# Scale: explode is narrow (64× fan-out), one hash agg on (label, dim) —
# map-side partials apply; no join, no sort but the presentation one.


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.floor(
        F.col("val").cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "val"))
        .filter(F.col("dim") < 8)
        .select("label", "dim", q.alias("q"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.sum("q") / F.lit(1e6) / F.count(F.lit(1)), 6).alias(
                "mean_val"
            ),
        )
        .orderBy("label", "dim")
    )


# No WITH ORDINALITY (DuckDB 1.0.0): index the list by a generated dim
# series instead — the _ROLLING_FP_SQL pattern in textops.py.
_DIM_STATS_SQL = """
WITH dims AS (
  SELECT label, g AS dim, embedding[g + 1] AS val
  FROM embeddings, unnest(generate_series(0, 7)) AS t(g)
)
SELECT label, dim, count(*) AS n,
       floor((sum(cast(floor(cast(val AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
              / 1000000.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0
         AS mean_val
FROM dims
GROUP BY label, dim
ORDER BY label, dim
"""


# -- k-NN join: top-k neighbors for EVERY query vector ------------------------
# The batch form of retrieval an LLM data pipeline runs corpus-wide
# (cross-corpus near-dup, hard-negative mining): each of Q query vectors
# gets its k nearest corpus vectors by cosine.  Plan shape is a two-phase
# tournament so it scales where a naive per-query-group rank would not:
#   1. score each corpus batch against all Q queries in one Arrow kernel
#      and keep only the batch-local per-query top-k (NO shuffle, no
#      B×Q candidate rows);
#   2. shuffle only the survivors (tiny) and rank per query.
# With 1000 executors the phase-2 shuffle carries ~1000×Q×k rows — the
# per-query skew of ranking the full crossJoin never materializes.

_KNN_QUERIES = 10
_KNN_K = 3


def _knn_batch_kernel(q_ids: list, q_mat: list, k: int):
    """Factory (shipped by value): per Arrow batch, ONE numpy matmul
    scores the batch against ALL queries (B x dims @ dims x Q) and
    emits only each query's batch-local top-k — the crossJoin's B x Q
    row expansion and its per-expanded-row HOF sim never materialize.
    Rounding reproduces functions/rounding.rnd."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        Q = np.asarray(q_mat, dtype=np.float64).T  # dims x Q
        qn = np.sqrt((Q * Q).sum(axis=0))  # Q
        qi = np.asarray(q_ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            en = np.sqrt((mat * mat).sum(axis=1))
            sims = (mat @ Q) / np.outer(en, qn)  # B x Q
            sims = np.floor(sims * 10000.0 + 0.5) / 10000.0
            vid = pdf["vec_id"].to_numpy()
            out_q, out_v, out_s = [], [], []
            kk = min(k, len(pdf))
            for j in range(sims.shape[1]):
                col = sims[:, j]
                # ties resolve later in the global window (cos_sim
                # desc, vec_id asc) — keep k per tie-group by taking
                # top-k on (sim desc, vec_id asc) lexicographic
                idx = np.lexsort((vid, -col))[:kk]
                out_q.extend([qi[j]] * len(idx))
                out_v.extend(vid[idx])
                out_s.extend(col[idx])
            yield pd.DataFrame(
                {"q_id": out_q, "vec_id": out_v, "cos_sim": out_s}
            )

    return kernel


def knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join (Q=10 queries x 200k corpus, top-k=3) — SHIPPED as the
    batch-matmul Arrow kernel since r13: the Q query vectors (a bounded
    Q x dims collect, same contract as ``_query_vec``) fold into the
    kernel, so the broadcast-crossJoin's B x Q row expansion — and the
    interpreted HOF sim per expanded row — never exist; each batch
    emits <= Q x k rows and the same global window finishes.

    Equal-cache A/B (SCALE_PROBE r13_knn_ab, n=7 at 200k vectors,
    quiet-host read; a first read under load agreed at 2.7x): 0.542 s
    vs the crossJoin+HOF shape's 1.897 s (3.5x) — 1.56x DuckDB.  This
    is the transfer-ratio generalization confirming itself from the
    winning side: one transferred embedding buys Q sims here (the
    rejected cosine kernel got exactly one), so the Arrow transfer
    amortizes.
    Scale posture: narrow kernel over the corpus scan, <= Q x k rows
    per batch into one small window — no candidate materialization at
    any corpus size; Q bounded by the driver-collect contract."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < _KNN_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    if len(qrows) != _KNN_QUERIES:
        raise ValueError(f"expected {_KNN_QUERIES} queries, got {len(qrows)}")
    qrows.sort(key=lambda r: r["vec_id"])
    q_ids = [int(r["vec_id"]) for r in qrows]
    q_mat = [[float(v) for v in r["embedding"]] for r in qrows]
    local_topk = (
        emb.filter(F.col("vec_id") >= _KNN_QUERIES)
        .select("vec_id", "embedding")
        .mapInPandas(
            _knn_batch_kernel(q_ids, q_mat, _KNN_K),
            "q_id long, vec_id long, cos_sim double",
        )
    )
    return (
        local_topk.withColumn(
            "rk",
            F.row_number()
            .over(
                W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
            )
            .cast("long"),
        )
        .filter(F.col("rk") <= _KNN_K)
        .orderBy("q_id", "rk")
    )


_KNN_JOIN_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_KNN_QUERIES}
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev
  FROM embeddings WHERE vec_id >= {_KNN_QUERIES}
), sims AS (
  SELECT q_id, vec_id,
         floor((list_cosine_similarity(ev, qv)) * 10000.0 + 0.5) / 10000.0
           AS cos_sim
  FROM q, c
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM sims
)
SELECT q_id, vec_id, cos_sim, rk
FROM ranked WHERE rk <= {_KNN_K}
ORDER BY q_id, rk
"""


# -- distributed Lloyd's k-means ----------------------------------------------
# The iterative ML operator the similarity family was missing: this is how
# an IVF coarse quantizer is actually TRAINED (the registered ivf_topk uses
# pinned cells; a production index runs a few Lloyd's rounds first).  Each
# round is one narrow assignment pass (argmin over k centroid-distance
# expressions, all plan literals inside codegen) + one k-group hash-agg;
# the only driver traffic is k x dim centroid floats per round — the
# standard Lloyd's-on-Spark shape, cost independent of corpus size.
#
# Determinism across engines (the oracle is the SAME algorithm unrolled
# into chained CTEs): centroids are floor-rounded to 6 decimals after init
# and after every update, and distances are rounded before the argmin, so
# double-precision accumulation-order ulps (~1e-13) cannot flip the
# trajectory; ties break on cluster id on both sides.

_KMEANS_K = 4
_KMEANS_ROUNDS = 2  # assign+update rounds; one final assignment follows


def _r6(x: float) -> float:
    import math

    return math.floor(float(x) * 1e6 + 0.5) / 1e6


def _euclid(vec_col: str, centroid: list[float]) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(zip_with({vec_col}, {_plane_lit(centroid)},"
            " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )


def _kmeans_assign(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, cluster, dist): nearest centroid per point,
    ties broken toward the lower cluster id (struct min orders by d, c)."""
    choice = F.array_min(
        F.array(
            *[
                F.struct(
                    rnd(_euclid("embedding", c), 6).alias("d"),
                    F.lit(i).cast("int").alias("c"),
                )
                for i, c in enumerate(cents)
            ]
        )
    )
    return emb.select(
        "vec_id",
        "embedding",
        choice["c"].alias("cluster"),
        choice["d"].alias("dist"),
    )


def _kmeans_centroids(
    emb: DataFrame, k: int = _KMEANS_K, rounds: int = _KMEANS_ROUNDS
) -> list[list[float]]:
    """Final centroid list after ``rounds`` Lloyd's iterations seeded by
    the k lowest vec_ids.  Empty clusters keep their previous centroid.
    The only driver state is the k x dim centroid matrix.

    Serial-round-trip cost (the BPE-trainer asymmetry the r8 verdict
    flagged, textops.py::bpe_vocab_merges): Lloyd's rounds CANNOT be
    batched the way BPE merges can — round t's assignment depends on the
    centroids produced by round t-1's global mean, so folding m rounds
    into one job would need m global shuffles chained inside it anyway.
    The cost model is rounds x (one map-side-combined hash-agg over the
    input + one ~100 ms driver round-trip collecting k x dim floats); a
    realistic rounds=20, k=1024, dim=1024 training run is ~20 jobs and
    ~160 MB of cumulative driver traffic — scheduling-bound, not
    data-bound, and exactly how MLlib's own KMeans iterates.  What IS in
    our control at 100 TB: the input must not be re-scanned from parquet
    every round, so the training loop persists it (MEMORY_AND_DISK, same
    choice as MLlib) and unpersists on exit; callers that already cached
    ``emb`` just add a no-op level hint."""
    from pyspark import StorageLevel

    init = emb.orderBy("vec_id").limit(k).collect()
    centroids = [[_r6(x) for x in r["embedding"]] for r in init]
    cached = False
    if emb.storageLevel == StorageLevel.NONE and rounds > 1:
        emb = emb.persist(StorageLevel.MEMORY_AND_DISK)
        cached = True
    try:
        for _ in range(rounds):
            stats = (
                _kmeans_assign(emb, centroids)
                .groupBy("cluster")
                .agg(*[F.avg(F.col("embedding")[d]).alias(f"m{d}") for d in range(_DIM)])
                .collect()
            )
            new = {
                r["cluster"]: [_r6(r[f"m{d}"]) for d in range(_DIM)]
                for r in stats
            }
            centroids = [new.get(i, centroids[i]) for i in range(k)]
    finally:
        if cached:
            emb.unpersist()
    return centroids


def kmeans_assignments(
    spark: SparkSession,
    emb: DataFrame,
    k: int = _KMEANS_K,
    rounds: int = _KMEANS_ROUNDS,
) -> DataFrame:
    """(vec_id, cluster, dist) after ``rounds`` Lloyd's iterations seeded
    by the k lowest vec_ids.  Empty clusters keep their previous centroid."""
    return _kmeans_assign(emb, _kmeans_centroids(emb, k, rounds))


def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = kmeans_assignments(spark, emb)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            rnd(F.avg("dist"), 4).alias("avg_dist"),
            F.min("vec_id").alias("exemplar_vec_id"),
        )
        .orderBy("cluster")
    )


def _kmeans_sql_parts(include_final_assign: bool) -> list[str]:
    """Unrolled Lloyd's-fixpoint CTE chain shared by the profile and
    silhouette oracles: pts, c0..c{ROUNDS} (centroid states) and
    a1..a{ROUNDS} (per-round assignments); with ``include_final_assign``
    also a{ROUNDS+1}, the assignment against the final centroids."""
    from ..functions.rounding import rnd_sql

    k, dim = _KMEANS_K, _DIM
    avg_list = ", ".join(
        rnd_sql(f"avg(v[{i + 1}])", 6) for i in range(dim)
    )
    parts = [
        "WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
  SELECT cluster, list_transform(v, x -> {rnd_sql('x', 6)}) AS v FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, v
    FROM pts) WHERE cluster < {k})""",
    ]
    last = _KMEANS_ROUNDS + 1 if include_final_assign else _KMEANS_ROUNDS
    for t in range(1, last + 1):
        d = rnd_sql("list_distance(p.v, c.v)", 6)
        parts.append(f"""a{t} AS (
  SELECT vec_id, v, cluster, d FROM (
    SELECT p.vec_id, p.v, c.cluster, {d} AS d,
           row_number() OVER (PARTITION BY p.vec_id ORDER BY {d}, c.cluster) AS rn
    FROM pts p CROSS JOIN c{t - 1} c) WHERE rn = 1)""")
        if t <= _KMEANS_ROUNDS:
            parts.append(f"""c{t} AS (
  SELECT prev.cluster, CASE WHEN upd.cluster IS NULL THEN prev.v ELSE upd.v END AS v
  FROM c{t - 1} prev LEFT JOIN (
    SELECT cluster, [{avg_list}] AS v FROM a{t} GROUP BY cluster) upd
  USING (cluster))""")
    return parts


def _kmeans_profile_sql() -> str:
    from ..functions.rounding import rnd_sql

    parts = _kmeans_sql_parts(include_final_assign=True)
    final = _KMEANS_ROUNDS + 1
    return (
        ",\n".join(parts)
        + f"""
SELECT cluster, count(*) AS n_points, {rnd_sql('avg(d)', 4)} AS avg_dist,
       min(vec_id) AS exemplar_vec_id
FROM a{final} GROUP BY cluster ORDER BY cluster
"""
    )


def kmeans_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified (centroid-based) silhouette over the final
    k-means assignment: s = (b - a) / max(a, b) with a = distance to the
    assigned (nearest) centroid and b = distance to the second-nearest.
    Mean s near 1 means tight, well-separated clusters; near 0 means the
    point sits between two centroids — the standard clustering-quality
    read-out, and the eval companion the k-means axis was missing.

    Full silhouette is O(N²) pairwise; the centroid form is O(N·k) — a
    narrow codegen map per point against the broadcast k x dim centroid
    matrix, then one k-group agg.  Per-point s is quantized to int 1e-4
    units before summation so the per-cluster mean is associative-exact
    (partition-order-independent), the same trick as the pagerank and
    cent_sum paths.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _kmeans_centroids(emb)
    # Sorted (d, c) struct array: [0] is the assigned centroid, [1] the
    # runner-up; struct order ties toward the lower cluster id, matching
    # the oracle's row_number(ORDER BY d, cluster).
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    rnd(_euclid("embedding", c), 6).alias("d"),
                    F.lit(i).cast("int").alias("c"),
                )
                for i, c in enumerate(cents)
            ]
        )
    )
    pts = emb.select(
        "vec_id",
        ranked[0]["c"].alias("cluster"),
        ranked[0]["d"].alias("a"),
        ranked[1]["d"].alias("b"),
    )
    s_raw = F.when(F.greatest("a", "b") == F.lit(0.0), F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    quantized = pts.select(
        "cluster",
        F.floor(s_raw * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("sil_i"),
    )
    return (
        quantized.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            rnd(
                F.sum("sil_i") / (F.count(F.lit(1)) * F.lit(10000.0)), 4
            ).alias("mean_silhouette"),
        )
        .orderBy("cluster")
    )


def _kmeans_silhouette_sql() -> str:
    from ..functions.rounding import rnd_sql

    parts = _kmeans_sql_parts(include_final_assign=False)
    d = rnd_sql("list_distance(p.v, c.v)", 6)
    s_raw = (
        "CASE WHEN greatest(a, b) = 0 THEN 0.0"
        " ELSE (b - a) / greatest(a, b) END"
    )
    parts.append(f"""ab AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cluster END) AS cluster,
         max(CASE WHEN rn = 1 THEN d END) AS a,
         max(CASE WHEN rn = 2 THEN d END) AS b
  FROM (
    SELECT p.vec_id, c.cluster, {d} AS d,
           row_number() OVER (PARTITION BY p.vec_id ORDER BY {d}, c.cluster) AS rn
    FROM pts p CROSS JOIN c{_KMEANS_ROUNDS} c) WHERE rn <= 2
  GROUP BY vec_id)""")
    parts.append(f"""sil AS (
  SELECT cluster,
         CAST(floor(({s_raw}) * 10000.0 + 0.5) AS BIGINT) AS sil_i
  FROM ab)""")
    return (
        ",\n".join(parts)
        + f"""
SELECT cluster, count(*) AS n_points,
       {rnd_sql('sum(sil_i) / (count(*) * 10000.0)', 4)} AS mean_silhouette
FROM sil GROUP BY cluster ORDER BY cluster
"""
    )


# -- int8 scalar quantization (SQ8): the memory-compression scale path --------
# The third axis of the ANN family: IVF prunes candidates, LSH buckets
# them, SQ8 shrinks the VECTORS — 4x less memory traffic per scanned
# candidate (64 int8 codes vs 64 float32), which at 100 TB of embeddings
# is the difference between an in-memory scan and a spilling one.
#
# Pipeline: one stats pass derives per-dimension (min, max) over the
# corpus (posexplode -> 64-row hash agg -> single-row array frame,
# broadcast); encoding each vector to its code — and reconstructing the
# dequantized `xhat` — is a narrow JVM-side `transform`, no shuffle.
# Search is ADC (asymmetric distance computation): the query stays full
# precision, corpus vectors are dequantized codes.  In production the
# stats row and the int8 codes are computed once at ingest and stored
# (codes as `array<tinyint>`); here the whole pipeline runs inline so the
# oracle can replay it exactly.
#
# Determinism: quantization is pure IEEE double arithmetic with the same
# op order on both engines (floor(x*255+0.5) clamp, never engine round()),
# so codes — and therefore xhat — are bit-identical by construction.


def _sq8_stats(emb: DataFrame) -> DataFrame:
    """Single-row frame (mns, mxs): per-dimension min/max as dim-ordered
    DOUBLE arrays.  One narrow explode + a 64-group agg — at 100 TB this
    is a one-off ingest-time pass, persisted next to the codes."""
    per_dim = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    return per_dim.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)"
        ).alias("mns"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)"
        ).alias("mxs"),
    )


# Dequantized reconstruction of the int8 code, elementwise over the (mns,
# mxs) arrays from the broadcast stats row.  Spark lambda index i is
# 0-based; element_at is 1-based — the DuckDB rendering uses the list's
# native 1-based subscripts so both engines index the same dimension.
# (Expression string, not a module-level Column: building a Column calls
# into the JVM, and operator modules must import without a live session.)
_SQ8_XHAT_EXPR = (
    "transform(embedding, (x, i) ->"
    " element_at(mns, i + 1) + least(255.0D, greatest(0.0D,"
    "   floor(CASE WHEN element_at(mxs, i + 1) = element_at(mns, i + 1)"
    "         THEN 0.0D"
    "         ELSE (cast(x as double) - element_at(mns, i + 1))"
    "              / (element_at(mxs, i + 1) - element_at(mns, i + 1)) * 255.0D"
    "         END + 0.5D)))"
    " * (element_at(mxs, i + 1) - element_at(mns, i + 1)) / 255.0D)"
)


def _sq8_xhat() -> Column:
    return F.expr(_SQ8_XHAT_EXPR)

_SQ8_SQL_COMMON = """
WITH st AS (
  SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM (
    SELECT g AS dim, min(embedding[g]::DOUBLE) AS mn, max(embedding[g]::DOUBLE) AS mx
    FROM embeddings, unnest(generate_series(1, 64)) AS s(g)
    GROUP BY g)
),
qz AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(generate_series(1, 64), g ->
           mns[g] + least(255.0, greatest(0.0,
             floor(CASE WHEN mxs[g] = mns[g] THEN 0.0
                   ELSE (embedding[g]::DOUBLE - mns[g]) / (mxs[g] - mns[g]) * 255.0 END + 0.5)))
           * (mxs[g] - mns[g]) / 255.0) AS xhat
  FROM embeddings, st
)
"""


def sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    stats = _sq8_stats(emb)
    qz = (
        emb.crossJoin(F.broadcast(stats))
        .select("vec_id", "embedding", _sq8_xhat().alias("xhat"))
    )
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    sim = _dot("xhat", "q") / (_norm("xhat") * _norm("q"))
    return (
        qz.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select("vec_id", rnd(sim, 4).alias("sq8_sim"))
        .orderBy(F.col("sq8_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


_SQ8_TOPK_SQL = (
    _SQ8_SQL_COMMON
    + """, q AS (SELECT v AS qv FROM qz WHERE vec_id = 0)
SELECT vec_id,
       floor((list_cosine_similarity(xhat, qv)) * 10000.0 + 0.5) / 10000.0 AS sq8_sim
FROM qz, q
WHERE vec_id != 0
ORDER BY sq8_sim DESC, vec_id
LIMIT 10
"""
)


def sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the SQ8 ranking vs the exact full-precision ranking over
    a bounded eval set (same harness shape as :func:`ivf_recall_eval`) —
    the measured answer to "what does 4x compression cost in quality"."""
    emb = load_table(spark, sf_dir, "embeddings")
    stats = _sq8_stats(emb)
    qz = (
        emb.crossJoin(F.broadcast(stats))
        .select("vec_id", "embedding", _sq8_xhat().alias("xhat"))
    )
    q = emb.filter(F.col("vec_id") < _EVAL_Q).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q")
    )
    exact = rnd(_dot("embedding", "q") / (_norm("embedding") * _norm("q")), 4)
    approx = rnd(_dot("xhat", "q") / (_norm("xhat") * _norm("q")), 4)
    pairs = qz.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id", "vec_id", exact.alias("exact_sim"), approx.alias("sq8_sim")
    )
    w_exact = Window.partitionBy("q_id").orderBy(
        F.col("exact_sim").desc(), F.col("vec_id")
    )
    w_sq8 = Window.partitionBy("q_id").orderBy(
        F.col("sq8_sim").desc(), F.col("vec_id")
    )
    k = F.lit(_EVAL_K)
    ranked = pairs.withColumn(
        "exact_rank", F.row_number().over(w_exact)
    ).withColumn("sq8_rank", F.row_number().over(w_sq8))
    return (
        ranked.groupBy("q_id")
        .agg(
            F.count(
                F.when((F.col("exact_rank") <= k) & (F.col("sq8_rank") <= k), 1)
            ).alias("n_hits")
        )
        .select(
            "q_id",
            "n_hits",
            rnd(F.col("n_hits") / k.cast("double"), 4).alias("recall_at_10"),
        )
        .transform(small_sorted, "q_id")
    )


_SQ8_RECALL_SQL = (
    _SQ8_SQL_COMMON
    + f""", q AS (
  SELECT vec_id AS q_id, v AS qv FROM qz WHERE vec_id < {_EVAL_Q}
), p AS (
  SELECT q.q_id, qz.vec_id,
         floor((list_cosine_similarity(qz.v, q.qv)) * 10000.0 + 0.5) / 10000.0 AS exact_sim,
         floor((list_cosine_similarity(qz.xhat, q.qv)) * 10000.0 + 0.5) / 10000.0 AS sq8_sim
  FROM qz, q WHERE qz.vec_id != q.q_id
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY exact_sim DESC, vec_id) AS exact_rank,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY sq8_sim DESC, vec_id) AS sq8_rank
  FROM p
)
SELECT q_id,
       count(*) FILTER (WHERE exact_rank <= {_EVAL_K} AND sq8_rank <= {_EVAL_K}) AS n_hits,
       floor((count(*) FILTER (WHERE exact_rank <= {_EVAL_K} AND sq8_rank <= {_EVAL_K})
              / {float(_EVAL_K)}) * 10000.0 + 0.5) / 10000.0 AS recall_at_10
FROM r
GROUP BY q_id
ORDER BY q_id
"""
)


# -- product quantization (PQ): the sub-vector compression scale path --------
# Completes the classic ANN compression trio: IVF prunes CANDIDATES, SQ8
# compresses SCALARS (4x), PQ compresses SUB-VECTORS — each embedding is
# m=8 subspaces of 8 dims, each encoded as the index of its nearest
# codebook entry (K=16 -> 4 bits), so 256 B of float32 becomes 4 B of
# codes: 64x compression, the regime where a 100 TB embedding corpus
# fits a few hundred GB of RAM.  Search is ADC against the reconstructed
# centroids, exactly like the SQ8 path, and the recall eval prices the
# quality cost the same way.
#
# Codebooks here are SAMPLED (the k lowest vec_ids, the same seeding the
# k-means family uses) so the whole pipeline is replayable as SQL; a
# production deployment would refine each subspace codebook with the
# per-subspace Lloyd's iterations `_kmeans_centroids` already implements
# and store the trained codebook + codes at ingest.  Encoding is a
# narrow JVM-side expression over BROADCAST-LITERAL codebooks — no
# shuffle, no Python.

_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (m * sub == _DIM)
_PQ_K = 16  # codebook entries per subspace


def _sub_euclid(lo: int, n: int, centroid: list[float]) -> Column:
    """Euclidean distance of vec[lo-1 : lo-1+n] (1-based ``lo``) to a
    literal sub-centroid — `_euclid` over a slice."""
    return F.sqrt(
        F.expr(
            f"aggregate(zip_with(slice(embedding, {lo}, {n}), {_plane_lit(centroid)},"
            " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )


def _pq_codebook(emb: DataFrame) -> list[list[float]]:
    init = emb.orderBy("vec_id").limit(_PQ_K).collect()
    return [[_r6(x) for x in r["embedding"]] for r in init]


def _pq_xhat(cb: list[list[float]]) -> Column:
    """Reconstruction (decode(encode(v))): per subspace, the nearest
    codebook sub-vector (ties toward the lower code), concatenated."""
    subs = []
    for s in range(_PQ_M):
        lo = s * _PQ_SUB + 1
        choice = F.array_min(
            F.array(
                *[
                    F.struct(
                        rnd(
                            _sub_euclid(
                                lo,
                                _PQ_SUB,
                                cb[j][s * _PQ_SUB : (s + 1) * _PQ_SUB],
                            ),
                            6,
                        ).alias("d"),
                        F.lit(j).cast("int").alias("j"),
                        F.expr(
                            _plane_lit(cb[j][s * _PQ_SUB : (s + 1) * _PQ_SUB])
                        ).alias("v"),
                    )
                    for j in range(_PQ_K)
                ]
            )
        )
        subs.append(choice["v"])
    return F.flatten(F.array(*subs))


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_codebook(emb)
    qz = emb.select("vec_id", "embedding", _pq_xhat(cb).alias("xhat"))
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    sim = _dot("xhat", "q") / (_norm("xhat") * _norm("q"))
    return (
        qz.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select("vec_id", rnd(sim, 4).alias("pq_sim"))
        .orderBy(F.col("pq_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


_PQ_SQL_COMMON = f"""
WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (
  SELECT j, list_transform(v, x -> floor((x) * 1000000.0 + 0.5) / 1000000.0) AS v FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, v
    FROM pts) WHERE j < {_PQ_K}),
enc AS (
  SELECT vec_id, s, v_sub FROM (
    SELECT p.vec_id, s.s,
           list_slice(c.v, s.s * {_PQ_SUB} + 1, s.s * {_PQ_SUB} + {_PQ_SUB}) AS v_sub,
           row_number() OVER (
             PARTITION BY p.vec_id, s.s
             ORDER BY floor((list_distance(
                         list_slice(p.v, s.s * {_PQ_SUB} + 1, s.s * {_PQ_SUB} + {_PQ_SUB}),
                         list_slice(c.v, s.s * {_PQ_SUB} + 1, s.s * {_PQ_SUB} + {_PQ_SUB})
                       )) * 1000000.0 + 0.5) / 1000000.0, c.j) AS rn
    FROM pts p
    CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) s
    CROSS JOIN cb c) WHERE rn = 1),
qz AS (
  SELECT e.vec_id, any_value(p.v) AS v, flatten(list(e.v_sub ORDER BY e.s)) AS xhat
  FROM enc e JOIN pts p USING (vec_id)
  GROUP BY e.vec_id)
"""

_PQ_TOPK_SQL = (
    _PQ_SQL_COMMON
    + """, q AS (SELECT v AS qv FROM qz WHERE vec_id = 0)
SELECT vec_id,
       floor((list_cosine_similarity(xhat, qv)) * 10000.0 + 0.5) / 10000.0 AS pq_sim
FROM qz, q
WHERE vec_id != 0
ORDER BY pq_sim DESC, vec_id
LIMIT 10
"""
)


def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the PQ (64x-compressed) ranking vs the exact ranking —
    same harness as :func:`sq8_recall_eval`, so the three compression/
    pruning axes report quality on one comparable scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_codebook(emb)
    qz = emb.select("vec_id", "embedding", _pq_xhat(cb).alias("xhat"))
    q = emb.filter(F.col("vec_id") < _EVAL_Q).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q")
    )
    exact = rnd(_dot("embedding", "q") / (_norm("embedding") * _norm("q")), 4)
    approx = rnd(_dot("xhat", "q") / (_norm("xhat") * _norm("q")), 4)
    pairs = qz.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id", "vec_id", exact.alias("exact_sim"), approx.alias("pq_sim")
    )
    w_exact = Window.partitionBy("q_id").orderBy(
        F.col("exact_sim").desc(), F.col("vec_id")
    )
    w_pq = Window.partitionBy("q_id").orderBy(
        F.col("pq_sim").desc(), F.col("vec_id")
    )
    k = F.lit(_EVAL_K)
    ranked = pairs.withColumn(
        "exact_rank", F.row_number().over(w_exact)
    ).withColumn("pq_rank", F.row_number().over(w_pq))
    return (
        ranked.groupBy("q_id")
        .agg(
            F.count(
                F.when((F.col("exact_rank") <= k) & (F.col("pq_rank") <= k), 1)
            ).alias("n_hits")
        )
        .select(
            "q_id",
            "n_hits",
            rnd(F.col("n_hits") / k.cast("double"), 4).alias("recall_at_10"),
        )
        .transform(small_sorted, "q_id")
    )


_PQ_RECALL_SQL = (
    _PQ_SQL_COMMON
    + f""", q AS (
  SELECT vec_id AS q_id, v AS qv FROM qz WHERE vec_id < {_EVAL_Q}
), p AS (
  SELECT q.q_id, qz.vec_id,
         floor((list_cosine_similarity(qz.v, q.qv)) * 10000.0 + 0.5) / 10000.0 AS exact_sim,
         floor((list_cosine_similarity(qz.xhat, q.qv)) * 10000.0 + 0.5) / 10000.0 AS pq_sim
  FROM qz, q WHERE qz.vec_id != q.q_id
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY exact_sim DESC, vec_id) AS exact_rank,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY pq_sim DESC, vec_id) AS pq_rank
  FROM p
)
SELECT q_id,
       count(*) FILTER (WHERE exact_rank <= {_EVAL_K} AND pq_rank <= {_EVAL_K}) AS n_hits,
       floor((count(*) FILTER (WHERE exact_rank <= {_EVAL_K} AND pq_rank <= {_EVAL_K})
              / {float(_EVAL_K)}) * 10000.0 + 0.5) / 10000.0 AS recall_at_10
FROM r
GROUP BY q_id
ORDER BY q_id
"""
)


QUERIES = {
    "kmeans_cluster_profile": kmeans_cluster_profile,
    "kmeans_silhouette_eval": kmeans_silhouette_eval,
    "pq_topk": pq_topk,
    "pq_recall_eval": pq_recall_eval,
    "sq8_topk": sq8_topk,
    "sq8_recall_eval": sq8_recall_eval,
    "cosine_topk": cosine_topk,
    "embedding_dim_stats": embedding_dim_stats,
    "embedding_norm_stats": embedding_norm_stats,
    "lsh_bucket_assignments": lsh_bucket_assignments,
    "embedding_near_dup_pairs": embedding_near_dup_pairs,
    "lsh_bucketed_near_dup_pairs": lsh_bucketed_near_dup_pairs,
    "lsh_multiband_near_dup_pairs": lsh_multiband_near_dup_pairs,
    "ivf_topk": ivf_topk,
    "ivf_recall_eval": ivf_recall_eval,
    "knn_join_topk": knn_join_topk,
}

ORACLE = {
    "kmeans_cluster_profile": _kmeans_profile_sql(),
    "kmeans_silhouette_eval": _kmeans_silhouette_sql(),
    "pq_topk": _PQ_TOPK_SQL,
    "pq_recall_eval": _PQ_RECALL_SQL,
    "sq8_topk": _SQ8_TOPK_SQL,
    "sq8_recall_eval": _SQ8_RECALL_SQL,
    "ivf_recall_eval": _ivf_recall_sql(),
    "cosine_topk": _COSINE_TOPK_SQL,
    "embedding_dim_stats": _DIM_STATS_SQL,
    "embedding_norm_stats": _NORM_STATS_SQL,
    "lsh_bucket_assignments": _lsh_sql(),
    "embedding_near_dup_pairs": _NEAR_DUP_SQL,
    "lsh_bucketed_near_dup_pairs": _lsh_near_dup_sql(),
    "lsh_multiband_near_dup_pairs": _lsh_multiband_sql(),
    "ivf_topk": _ivf_sql(),
    "knn_join_topk": _KNN_JOIN_SQL,
}
