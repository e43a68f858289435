"""Property-based tests (hypothesis) for the cross-engine determinism
primitives — the pieces every oracle comparison leans on.

Most properties need no SparkSession: they pin the *formulas* shared by both
engines (Python floats are IEEE-754 doubles, same as JVM doubles and DuckDB
DOUBLE), so violations here mean oracle flakiness at some SF even if the
current fixtures happen to pass.
"""

from __future__ import annotations

import math

import duckdb
from hypothesis import example, given, settings
from hypothesis import strategies as st


def _rnd_py(x: float, n: int) -> float:
    scale = float(10**n)
    return math.floor(x * scale + 0.5) / scale


@settings(max_examples=300, deadline=None)
@given(
    st.floats(
        min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
    ),
    st.integers(min_value=0, max_value=6),
)
def test_rounding_formula_matches_duckdb(x: float, n: int):
    """floor(x·10ⁿ+0.5)/10ⁿ computes bit-identically in Python and DuckDB
    within the contract domain |x|·10ⁿ < 2^53 (see functions/rounding.py —
    hypothesis found the boundary: x=900719925474.9999, n=4 differs in the
    last ulp once the scaled value exceeds 2^53).

    The input reaches DuckDB via parameter binding, which is how real
    oracle comparisons see values too (shared parquet doubles): hypothesis
    also demonstrated that *SQL-literal* doubles parse through DECIMAL and
    can land 1 ulp away — a hazard the oracle SQL avoids by never inlining
    float literals derived from data.
    """
    if abs(x) * 10**n >= 2**53:
        return
    scale = float(10**n)
    got = duckdb.execute(
        f"SELECT floor(? * {scale} + 0.5) / {scale}", [x]
    ).fetchone()[0]
    assert got == _rnd_py(x, n)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**15),  # ts in microseconds
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_session_kernel_matches_windowed_reference(events):
    """The applyInPandasWithState sessionization kernel (gap > 30 min splits)
    agrees with the lag/cumsum formulation used by the batch query and its
    SQL oracle, for arbitrary event streams including boundary gaps."""
    GAP = 1_800_000_000  # 30 min in microseconds
    ordered = sorted(events)

    # streaming-kernel logic (streaming/windows.py::_session_func)
    sessions: list[list[float]] = []  # [start_us, last_us, n, total]
    for us, value in ordered:
        if sessions and us - sessions[-1][1] <= GAP:
            cur = sessions[-1]
            cur[1] = us
            cur[2] += 1
            cur[3] += value
        else:
            sessions.append([us, us, 1, value])

    # batch/window-function reference: new session iff gap is NULL or > GAP
    ref: list[list[float]] = []
    prev_us = None
    for us, value in ordered:
        if prev_us is None or us - prev_us > GAP:
            ref.append([us, us, 1, value])
        else:
            ref[-1][1] = us
            ref[-1][2] += 1
            ref[-1][3] += value
        prev_us = us

    assert [(s[0], s[2]) for s in sessions] == [(r[0], r[2]) for r in ref]
    for s, r in zip(sessions, ref):
        assert math.isclose(s[3], r[3], rel_tol=1e-12, abs_tol=1e-12)


# Hex texts Spark's unhex reads in ways bytes.fromhex does not: odd
# length (a leading 0 nibble), non-hex and non-ASCII characters, empty,
# upper case, inner and outer whitespace (fromhex skips it, unhex gives
# null).
_HOSTILE_HEX = [
    "abc", "a", "", "zz", "0x12", "é1", "ABCDEF", "aBcD",
    "ab cd", " ab", "ab\n", "ab\tcd",
]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.binary(max_size=256).map(bytes.hex),
            st.text(alphabet="0123456789abcdefABCDEF \tg", max_size=12),
        ),
        max_size=8,
    )
)
@example(_HOSTILE_HEX)
def test_blake2b_matches_reference_hashlib(spark, texts: list[str]):
    """The source layer's datum hash must equal hashlib's blake2b-256 (the
    reference's datum-hash function) of the bytes Spark's ``unhex`` reads
    from the hex text, and be None wherever ``unhex`` gives null."""
    import hashlib

    from pyspark.sql import functions as F

    from cardano_analytics_duckdb_spark.sources.blocks import (
        unhex_blake2b_256,
    )

    unhexed = (
        spark.range(1)
        .select(F.posexplode(
            F.array(*map(F.lit, texts)).cast("array<string>")
        ))
        .select("pos", F.unhex("col"))
        .collect()
    )
    data = [bytes(v) if v is not None else None for _, v in sorted(unhexed)]
    assert len(data) == len(texts)
    for text, b in zip(texts, data):
        expected = (
            None if b is None
            else hashlib.blake2b(b, digest_size=32).digest()
        )
        assert unhex_blake2b_256(text) == expected, text


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**12), min_size=2, max_size=50
    ).map(sorted)
)
def test_banded_range_join_covers_exactly(ms_values):
    """The neighbor-bucket candidate generation of the banded range join
    finds exactly the pairs with 0 < dt <= band — no misses, no dupes."""
    BAND = 60_000
    rows = list(dict.fromkeys(ms_values))  # unique, sorted
    truth = {
        (a, b)
        for i, a in enumerate(rows)
        for b in rows[i + 1:]
        if 0 < b - a <= BAND
    }
    # candidate generation: b emitted at (bucket, bucket-1); a joins on its
    # own bucket (operators/temporal.py::events_within_minute_pairs)
    found = set()
    by_bucket: dict[int, list[int]] = {}
    for a in rows:
        by_bucket.setdefault(a // BAND, []).append(a)
    for b in rows:
        for bucket in (b // BAND, b // BAND - 1):
            for a in by_bucket.get(bucket, []):
                if b > a and b - a <= BAND:
                    found.add((a, b))
    assert found == truth


def test_approx_user_stats_error_bounds(spark, sf_dir):
    """approx_user_stats has no SQL oracle (sketches are engine-specific);
    bound its error against exact answers computed in the same engine."""
    from cardano_analytics_duckdb_spark.operators.analytic import approx_user_sketches
    from cardano_analytics_duckdb_spark.lake.tables import load_table
    from pyspark.sql import functions as F

    approx = {r["event_type"]: r for r in approx_user_sketches(spark, sf_dir).collect()}
    exact = {
        r["event_type"]: r
        for r in (
            load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.countDistinct("user_id").alias("users"),
                F.expr("percentile(value, 0.5)").alias("median_value"),
            )
            .collect()
        )
    }
    assert set(approx) == set(exact)
    for et, ex in exact.items():
        ap = approx[et]
        # HLL++ at rsd=0.02: allow 3x the configured relative error
        assert abs(ap["approx_users"] - ex["users"]) <= max(2, 0.06 * ex["users"])
        # percentile_approx at accuracy=10000 on ~10k rows is near-exact
        assert abs(ap["approx_median_value"] - ex["median_value"]) <= max(
            0.05 * abs(ex["median_value"]), 0.5
        )


def test_lsh_banding_params_bounds_expected_bucket_size():
    """Scale-adaptive sizing: for any corpus size up to 1e13 rows, the
    derived plane count keeps the EXPECTED bucket size (n / 2^planes) under
    the cap, and the count is clamped and monotone in n."""
    from cardano_analytics_duckdb_spark.operators.similarity import (
        lsh_banding_params,
    )

    cap = 4096
    prev = 0
    n = 100
    while n <= 10**13:
        p = lsh_banding_params(n, bucket_cap=cap)
        assert 4 <= p <= 40
        assert n / 2**p <= cap, (n, p)
        assert p >= prev  # monotone: more data never means fewer buckets
        prev = p
        n *= 10
    # fixed 8 planes would blow through the cap at 1e9 rows; the sizing
    # must not
    assert 10**9 / 2 ** lsh_banding_params(10**9, bucket_cap=cap) <= cap


def test_lsh_adaptive_buckets_bounded_on_skewed_corpus(spark):
    """On a biased (skewed) corpus, auto-derived banding keeps the MAX
    bucket within the 16x safety margin and the candidate engine runs
    without tripping the kernel's fail-fast row cap."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cardano_analytics_duckdb_spark.operators.similarity import (
        _band_planes,
        _bucket_expr,
        lsh_banding_params,
        lsh_near_dup_pairs,
    )

    rng = np.random.default_rng(20260814)
    n, dim, cap = 4096, 64, 256
    bias = np.zeros(dim)
    bias[:4] = 4.0  # common direction: half the hyperplanes barely split
    vecs = (rng.standard_normal((n, dim)) + bias).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    p = lsh_banding_params(n, bucket_cap=cap)
    sizes = (
        df.select(_bucket_expr(_band_planes(0, p)).alias("bucket"))
        .groupBy("bucket")
        .count()
        .agg(F.max("count").alias("mx"))
        .first()["mx"]
    )
    assert sizes <= cap, f"max bucket {sizes} exceeds cap {cap}"
    # end-to-end: auto-sized engine must not hit the 10k kernel guard
    pairs = lsh_near_dup_pairs(spark, df, n_bands=2, bucket_cap=cap)
    assert pairs.count() >= 0


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4095),
            st.integers(min_value=0, max_value=4095),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=30, deadline=None)
def test_morton_interleave_is_injective_and_monotone_in_boxes(pairs):
    """The z-order key is a bijection on the grid (no two cells collide)
    and respects containment: a point inside a dyadic box has its key
    inside the box's key range — the property parquet min-max pruning
    exploits."""

    def morton(x: int, y: int, bits: int = 12) -> int:
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    keys = [morton(x, y) for x, y in pairs]
    assert len(set(keys)) == len(pairs)  # injective
    # dyadic-box property: halving both coordinate ranges halves the key
    # range prefix — check via the top quadrant bits
    for (x, y), z in zip(pairs, keys):
        quad = ((x >> 11) & 1) | (((y >> 11) & 1) << 1)
        assert (z >> 22) & 3 == quad


def test_morton_spark_expression_matches_reference(spark):
    """The Catalyst shift/or fold computes the same key as the Python
    reference bit-by-bit."""
    import pyspark.sql.functions as F

    from cardano_analytics_duckdb_spark.lake.zorder import morton_interleave

    rows = [(x, y) for x in (0, 1, 5, 63, 64, 4095) for y in (0, 2, 7, 4095)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", morton_interleave([F.col("x"), F.col("y")], 12)
        ).collect()
    }

    def morton(x: int, y: int) -> int:
        z = 0
        for b in range(12):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y)


@given(
    st.integers(min_value=0, max_value=0xFFFF),
    st.sets(st.integers(min_value=0, max_value=15), min_size=0, max_size=3),
)
@settings(max_examples=200, deadline=None)
def test_phash_banding_is_complete_for_hamming_3(base, flip_bits):
    """Pigeonhole completeness of the 4-nibble blocking: ANY pair of 16-bit
    hashes at hamming distance <= 3 shares at least one intact nibble, so
    the banded equi-join can never miss a reported pair."""
    other = base
    for b in flip_bits:
        other ^= 1 << b
    hamming = bin(base ^ other).count("1")
    assert hamming <= 3
    nibbles_equal = any(
        (base >> (4 * i)) & 0xF == (other >> (4 * i)) & 0xF for i in range(4)
    )
    assert nibbles_equal


@given(
    st.integers(min_value=0, max_value=2**64 - 1),
    st.sets(st.integers(min_value=0, max_value=63), min_size=0, max_size=3),
)
@settings(max_examples=200, deadline=None)
def test_phash_wide_banding_is_complete_for_hamming_3(base, flip_bits):
    """Pigeonhole completeness holds at ANY band width: 4 bands of 16 bits
    over a 64-bit hash — <= 3 flipped bits touch <= 3 bands, so one of the
    4 bands is always intact.  This is the production (wide-band) shape of
    the pHash blocking."""
    other = base
    for b in flip_bits:
        other ^= 1 << b
    assert any(
        (base >> (16 * i)) & 0xFFFF == (other >> (16 * i)) & 0xFFFF
        for i in range(4)
    )


def test_phash_banding_params_bounds_expected_bucket_size():
    """Band width grows with corpus size so the EXPECTED band-bucket size
    keeps the 16x margin under the cap (until the full digest width is
    exhausted) — the anti-quadratic guarantee of the image dedup."""
    from cardano_analytics_duckdb_spark.operators.multimodal import (
        phash_banding_params,
    )

    sizes = [10, 10**3, 10**6, 10**9, 10**12]
    nibs = [phash_banding_params(n) for n in sizes]
    assert nibs == sorted(nibs)  # monotone in corpus size
    assert all(1 <= nib <= 8 for nib in nibs)
    for n, nib in zip(sizes, nibs):
        if nib < 8:  # not clamped by digest width
            assert n / 16**nib <= 4096 / 16.0
    # at trillion-image scale: 32-bit bands (~4e9 buckets), ~233 expected
    # rows per bucket — where a fixed nibble band would hold ~6e10
    assert phash_banding_params(10**12) == 8


def test_phash_band_buckets_stay_bounded():
    """End-to-end check of the sizing on a uniform corpus: auto-derived
    band width keeps every band bucket far below the kernel cap."""
    import hashlib
    from collections import Counter

    from cardano_analytics_duckdb_spark.operators.multimodal import (
        phash_banding_params,
    )

    n = 20_000
    fps = [hashlib.md5(str(i).encode()).hexdigest() for i in range(n)]
    nib = phash_banding_params(n)
    assert nib >= 2  # sizing reacted to the corpus (fixed width would be 1)
    for band in range(4):
        buckets = Counter(fp[band * nib : (band + 1) * nib] for fp in fps)
        assert max(buckets.values()) <= 4096


def test_phash_pairs_match_bruteforce_at_wide_bands(spark):
    """The banded join at band_nibbles=2 (32-bit hash) returns EXACTLY the
    brute-force hamming <= 3 pairs on a corpus engineered to contain some."""
    import hashlib

    from cardano_analytics_duckdb_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    base = hashlib.md5(b"seed").hexdigest()
    rows = []
    for i in range(40):
        fp = hashlib.md5(str(i).encode()).hexdigest()
        rows.append((i, fp))
        # a planted near-dup: flip one hex char of the 32-bit prefix by one
        # bit so hamming(32-bit hashes) == 1
        flipped = hex(int(fp[0], 16) ^ 1)[2:] + fp[1:]
        rows.append((1000 + i, flipped))
    rows.append((5000, base))
    decoded = spark.createDataFrame(rows, "doc_id long, fingerprint string")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in phash_near_dup_pairs(decoded, band_nibbles=2).collect()
    }
    vals = {i: int(fp[:8], 16) for i, fp in rows}
    expect = {
        (a, b, bin(vals[a] ^ vals[b]).count("1"))
        for a in vals
        for b in vals
        if a < b and bin(vals[a] ^ vals[b]).count("1") <= 3
    }
    assert got == expect and len(expect) >= 40


def test_minhash_precollapse_bounds_band_buckets(spark):
    """Hot-bucket guard: a degenerate corpus (150 byte-identical docs)
    must NOT put 150 rows in one band bucket — banding runs over canonical
    docs only, so every bucket stays duplicate-free, while the pair
    expansion still reports every identical-doc pair (which any correct
    pair listing owes) plus nothing for shingle-less docs."""
    import pyspark.sql.functions as F

    from cardano_analytics_duckdb_spark.operators.dedup import (
        _BANDS,
        _canonical_bands,
        minhash_candidate_pairs,
    )

    rows = [(i, "the quick brown fox jumps over the lazy dog")
            for i in range(150)]
    rows += [
        (1000 + i, f"unique document number {i} with extra tokens {i * 7}")
        for i in range(30)
    ]
    rows += [(5000, "too short"), (5001, "too short")]  # <3 tokens: no sig
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    bands, canon = _canonical_bands(docs)
    max_bucket = (
        bands.groupBy("band", "band_key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_bucket <= 3  # 150 identical docs collapsed to ONE band row

    pairs = minhash_candidate_pairs(docs)
    within = pairs.filter(
        (F.col("doc_a") < 150) & (F.col("doc_b") < 150)
    )
    assert within.count() == 150 * 149 // 2
    assert (
        within.filter(F.col("n_bands") != len(_BANDS)).count() == 0
    )  # identical docs collide in every band
    assert pairs.filter(F.col("doc_a") >= 5000).count() == 0


def test_sq8_quantization_error_within_half_step(spark, sf_dir):
    """SQ8 invariant: for every in-range value, |x - dequant(quant(x))| <=
    half the per-dimension quantization step ((mx-mn)/255/2).  Corpus
    min/max define the range, so no value is out of range and the clamp
    never widens the error.  Checked through the REAL plan expressions
    (stats pass + transform), not a python re-implementation."""
    import pyspark.sql.functions as F

    from cardano_analytics_duckdb_spark.lake.tables import load_table
    from cardano_analytics_duckdb_spark.operators.similarity import (
        _sq8_stats,
        _sq8_xhat,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qz = (
        emb.crossJoin(F.broadcast(_sq8_stats(emb)))
        .select("embedding", "mns", "mxs", _sq8_xhat().alias("xhat"))
    )
    worst = qz.select(
        F.max(
            F.expr(
                "aggregate(transform(embedding, (x, i) ->"
                " abs(cast(x as double) - element_at(xhat, i + 1))"
                " - (element_at(mxs, i + 1) - element_at(mns, i + 1))"
                "   / 255.0D / 2.0D),"
                " cast(-1.0 as double), (acc, v) -> greatest(acc, v))"
            )
        )
    ).first()[0]
    assert worst <= 1e-9, f"quantization error exceeds half-step by {worst}"


def test_span_coverage_on_crafted_corpus(spark, tmp_path):
    """duplicated_ngram_coverage ground truth on a corpus built to hit
    every branch: exact duplicates (coverage 1.0), a unique doc (0.0), and
    a sub-8-token doc (no grams, still present with 0.0)."""
    rows = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e f g h i j"),  # byte-identical: every gram duplicated
        (2, "completely different tokens one two three four five six seven"),
        (3, "tiny doc"),  # < 8 tokens: no grams
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "crafted", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    from cardano_analytics_duckdb_spark.operators.dedup import (
        duplicated_ngram_coverage,
    )

    res = {
        r["doc_id"]: r
        for r in duplicated_ngram_coverage(spark, str(tmp_path)).collect()
    }
    assert len(res) == 4
    assert res[0]["n_grams"] == 3 and res[0]["dup_fraction"] == 1.0
    assert res[1]["dup_grams"] == 3 and res[1]["dup_fraction"] == 1.0
    assert res[2]["n_grams"] == 3 and res[2]["dup_grams"] == 0
    assert res[2]["dup_fraction"] == 0.0
    assert res[3]["n_grams"] == 0 and res[3]["dup_fraction"] == 0.0


def test_doc_chunks_reconstruct_documents(spark, sf_dir):
    """Chunking invariant through the real operator: stripping each
    chunk to its stride and concatenating in chunk order reproduces the
    original text exactly — no character lost or duplicated at any
    boundary, for every document in the table."""
    import pyspark.sql.functions as F

    from cardano_analytics_duckdb_spark.lake.tables import load_table
    from cardano_analytics_duckdb_spark.operators.textops import (
        _CHUNK_STRIDE,
        doc_chunks,
    )

    rebuilt = (
        doc_chunks(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: F.substring(s["chunk_text"], 1, _CHUNK_STRIDE),
                ),
            ).alias("rebuilt")
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mismatches = (
        docs.join(rebuilt, "doc_id")
        .filter(F.col("text") != F.col("rebuilt"))
        .count()
    )
    assert mismatches == 0


def test_pq_xhat_blocks_come_from_the_codebook(spark, sf_dir):
    """PQ invariant: every 8-dim block of the reconstruction equals one of
    that subspace's 16 codebook sub-vectors (decode(encode(v)) lands ON
    the codebook grid), and codebook vectors reconstruct to themselves
    up to the r6 seeding quantization.  Checked through the real plan
    expression, not a python re-implementation."""
    import pyspark.sql.functions as F

    from cardano_analytics_duckdb_spark.lake.tables import load_table
    from cardano_analytics_duckdb_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        _pq_codebook,
        _pq_xhat,
        _r6,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = _pq_codebook(emb)
    rows = emb.select("vec_id", _pq_xhat(cb).alias("xhat")).collect()
    grids = [
        {tuple(cb[j][s * _PQ_SUB : (s + 1) * _PQ_SUB]) for j in range(_PQ_K)}
        for s in range(_PQ_M)
    ]
    for r in rows:
        for s in range(_PQ_M):
            block = tuple(r["xhat"][s * _PQ_SUB : (s + 1) * _PQ_SUB])
            assert block in grids[s], (r["vec_id"], s)
    by_id = {r["vec_id"]: r["xhat"] for r in rows}
    for j in range(_PQ_K):  # codebook members are fixed points
        seed = emb.filter(F.col("vec_id") == j).first()["embedding"]
        assert by_id[j] == [_r6(x) for x in seed]


def test_bpe_merge_scores_are_non_increasing(spark, sf_dir):
    """BPE training invariant: the selected merge scores never increase
    round over round — a merge only removes pair occurrences, and any
    NEW pair it creates (x, ab) occurs at most as often as 'ab' itself,
    i.e. at most the score just selected."""
    from cardano_analytics_duckdb_spark.operators.textops import (
        bpe_vocab_merges,
    )

    rows = bpe_vocab_merges(spark, sf_dir).collect()
    scores = [r["score"] for r in sorted(rows, key=lambda r: r["merge_rank"])]
    assert len(scores) >= 2
    assert all(a >= b for a, b in zip(scores, scores[1:])), scores
    for r in rows:  # the merged symbol is the concatenation, by construction
        assert r["merged"] == r["left_sym"] + r["right_sym"]


def test_silhouette_is_bounded_and_cluster_consistent(spark, sf_dir):
    """Centroid silhouette s=(b-a)/max(a,b) with b the SECOND-nearest:
    b >= a forces s in [0, 1]; the cluster ids must be exactly the
    profile query's clusters with the same populations."""
    from cardano_analytics_duckdb_spark.operators.similarity import (
        kmeans_cluster_profile,
        kmeans_silhouette_eval,
    )

    sil = {
        r["cluster"]: r
        for r in kmeans_silhouette_eval(spark, sf_dir).collect()
    }
    prof = {
        r["cluster"]: r
        for r in kmeans_cluster_profile(spark, sf_dir).collect()
    }
    assert set(sil) == set(prof)
    for c, r in sil.items():
        assert 0.0 <= r["mean_silhouette"] <= 1.0
        assert r["n_points"] == prof[c]["n_points"]


@settings(max_examples=500, deadline=None)
@given(st.binary(min_size=0, max_size=80), st.binary(min_size=0, max_size=80))
def test_hex_bound_encoding_preserves_byte_order(a: bytes, b: bytes):
    """The binary manifest bounds' correctness hinges on one invariant:
    lowercase hex is ORDER-PRESERVING for bytes (fixed 2 chars per byte,
    digits < lowercase letters in ASCII), so prune_files_box' string
    comparison over min_bin/max_bin decides exactly what a bytewise
    comparison over the raw values would."""
    assert (a <= b) == (a.hex() <= b.hex())
    assert (a < b) == (a.hex() < b.hex())


@settings(max_examples=500, deadline=None)
@given(st.binary(min_size=0, max_size=40), st.binary(min_size=0, max_size=40))
def test_zorder_binary_prefix_coordinate_is_monotone(a: bytes, b: bytes):
    """lake/zorder.py::_binary_coord maps a binary value to
    conv(rpad(substr(hex(v), 1, 14), 14, '0'), 16, 10) — mirrored here in
    pure Python.  Correct clustering needs WEAK monotonicity: bytewise
    order never inverts on the coordinate (ties allowed — values sharing
    a 7-byte prefix cost skipping precision, not correctness)."""

    def coord(v: bytes) -> int:
        return int(v.hex()[:14].ljust(14, "0") or "0", 16)

    if a <= b:
        assert coord(a) <= coord(b)
    else:
        assert coord(a) >= coord(b)
