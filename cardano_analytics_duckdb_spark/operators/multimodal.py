"""Multimodal-column operators (LLM-pipeline extension, driver spec).

Images/audio/video are opaque ``binary`` payloads with typed metadata.
Decoder selection is an EXPLICIT parameter (``decoder="fixture"`` default,
``decoder="pil"`` for real PIL decoding) — never inferred from what happens
to be importable, so installing Pillow into the environment cannot change
query behavior.  The fixture decoder is a deterministic fake behind
``mapInPandas`` with real, oracle-checked Spark plumbing: binary column
handling, Arrow batch iteration, UDF signatures, output schemas.

The ``documents.text`` column stands in for the payload (UTF-8 bytes);
at 100 TB these are real image bytes and the same plan applies: narrow
mapInPandas over the payload column (no shuffle), metadata extraction
pushed to the scan where expressible as column ops.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.tables import load_table

# -- payload metadata: pure column ops (JVM-side, no UDF) ---------------------


def payload_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop (the doc_quality/gopher generalization applied to the
    # whole multimodal family): the final global ORDER BY bought nothing —
    # the oracle canonicalizes row order — and its range sampler is a
    # SECOND full execution of the shuffle-free upstream (there is no
    # exchange whose map output the sampler could reuse), plus a range
    # exchange of every output row.  sortWithinPartitions keeps the rows
    # deterministic per partition at zero exchanges.  A/B'd family-wide
    # in SCALE_PROBE r13_sortdrop_ab.
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    frame = docs.select(
        "doc_id",
        F.length(payload).alias("payload_bytes"),
        F.lower(F.hex(F.substring(payload, 1, 8))).alias("header_hex"),
        F.when(F.length(payload) % 2 == 0, F.lit("even-container"))
        .otherwise(F.lit("odd-container"))
        .alias("container_kind"),
    )
    return frame.sortWithinPartitions("doc_id")


# NOTE: DuckDB has no substring/md5 over BLOB, so the oracle operates on the
# text — bytes == chars because the corpus is pure ASCII (asserted in tests).
_PAYLOAD_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS payload_bytes,
       lower(hex(encode(substring(text, 1, 8)))) AS header_hex,
       CASE WHEN octet_length(encode(text)) % 2 = 0
            THEN 'even-container' ELSE 'odd-container' END AS container_kind
FROM documents
ORDER BY doc_id
"""

# -- image decode via mapInPandas (explicit decoder selection) ----------------

#: Valid values for the ``decoder`` parameter.  "fixture" is the
#: deterministic fake (default — works in any environment, matches the
#: DuckDB oracle); "pil" decodes real image bytes with Pillow and is only
#: valid when the caller explicitly asks for it AND Pillow is installed.
#: Behavior NEVER depends on whether Pillow merely happens to be
#: importable (that was an environment landmine, fixed in r8).
DECODERS = ("fixture", "pil")


def _decode_payload(payload: bytes, decoder: str = "fixture") -> dict:
    """Decode one payload into (width, height, fingerprint).

    ``decoder="fixture"``: deterministic fake from the byte length + md5.
    ``decoder="pil"``: real ``PIL.Image.open`` — raises ImportError with a
    clear message if Pillow is not installed (an explicit request for an
    unavailable decoder should fail loudly, an *unrequested* library being
    present must change nothing)."""
    if decoder == "fixture":
        n = len(payload)
        return {
            "width": (n % 64) + 1,
            "height": ((n // 64) % 64) + 1,
            "fingerprint": hashlib.md5(payload).hexdigest(),
        }
    if decoder == "pil":  # executed by the stub-PIL + real-Pillow tests
        import io

        import PIL.Image

        img = PIL.Image.open(io.BytesIO(payload))
        return {
            "width": img.width,
            "height": img.height,
            "fingerprint": hashlib.md5(payload).hexdigest(),
        }
    raise ValueError(f"unknown decoder {decoder!r}; expected one of {DECODERS}")


def _decoded_frame(
    spark: SparkSession, sf_dir: str, decoder: str = "fixture"
) -> DataFrame:
    """Unordered (doc_id, width, height, fingerprint) decode output — the
    shared upstream of the feature report and the pHash dedup.  ``decoder``
    selects the per-payload decode explicitly (see ``DECODERS``)."""
    if decoder not in DECODERS:
        raise ValueError(f"unknown decoder {decoder!r}; expected one of {DECODERS}")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    # Self-contained closure (no references to this package) so cloudpickle
    # ships it by value — Python workers don't have the repo on sys.path.
    # ``decoder`` is captured as a plain string.
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        if decoder == "pil":  # pragma: no cover - Pillow absent in CI
            import io

            import PIL.Image

            def _decode_one(p: bytes) -> tuple[int, int, str]:
                img = PIL.Image.open(io.BytesIO(p))
                return (img.width, img.height, hashlib.md5(p).hexdigest())

        else:

            def _decode_one(p: bytes) -> tuple[int, int, str]:
                n = len(p)
                return (
                    (n % 64) + 1,
                    ((n // 64) % 64) + 1,
                    hashlib.md5(p).hexdigest(),
                )

        for pdf in batches:
            # one pass over the batch (the decode call is inherently
            # per-item — a real decoder opens one image at a time), then
            # zip straight into columns
            feats = [_decode_one(bytes(p)) for p in pdf["payload"]]
            width, height, fp = zip(*feats) if feats else ((), (), ())
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "width": width,
                    "height": height,
                    "fingerprint": fp,
                }
            )

    return docs.mapInPandas(
        decode, schema="doc_id long, width int, height int, fingerprint string"
    )


def image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop: the old orderBy's range sampler re-ran the DECODE
    # KERNEL itself (shuffle-free upstream — nothing for the sampler to
    # reuse), so every image was decoded twice and the decoded rows then
    # crossed a range exchange.  See payload_metadata; A/B in
    # SCALE_PROBE r13_sortdrop_ab.
    frame = _decoded_frame(spark, sf_dir)
    return frame.sortWithinPartitions("doc_id")


_IMAGE_DECODE_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS width,
       CAST((octet_length(encode(text)) // 64) % 64 + 1 AS INTEGER) AS height,
       md5(text) AS fingerprint
FROM documents
ORDER BY doc_id
"""

# -- perceptual-hash near-dup (image dedup) -----------------------------------
# Production image dedup: a compact perceptual hash per image, banded LSH
# blocking, exact hamming verification within blocks.  The "pHash" here
# derives from the decode fingerprint (the deterministic fake; a real
# pipeline computes a DCT pHash in the same mapInPandas slot), split into
# 4 bands of ``band_nibbles`` hex chars each — by pigeonhole, ≤ 3
# differing bits touch ≤ 3 bands, so any pair at hamming ≤ 3 shares at
# least one INTACT band and the banded equi-join is COMPLETE for the
# reported threshold, at ANY band width.  Band width is the scale lever
# (the same lever ``lsh_banding_params`` pulls for hyperplanes): buckets
# per band = 16^band_nibbles, so expected bucket size n/16^band_nibbles is
# held under a 16x safety margin of the cap by ``phash_banding_params`` —
# at 1e12 images it picks 8 nibbles (32-bit bands, ~4e9 buckets) where a
# fixed nibble band (16 buckets) would go quadratic.  Cost ∝ Σ band-
# bucket², never N².
#
# The registered query pins band_nibbles=1 (16-bit hash) so its DuckDB
# oracle is a static SQL string; the auto-sized path is the same engine
# with band_nibbles=None and is covered by the bounded-bucket property
# test (tests/test_properties.py).

_PHASH_BANDS = 4
_PHASH_MAX_HAMMING = 3

_HEX = "0123456789abcdef"


def phash_banding_params(
    n_images: int,
    bucket_cap: int = 4096,
    min_nibbles: int = 1,
    max_nibbles: int = 8,
) -> int:
    """Smallest per-band width (hex chars) whose *expected* band-bucket
    size (n_images / 16^nibbles) keeps a 16x safety margin under
    ``bucket_cap`` — same contract as ``similarity.lsh_banding_params``
    (the margin absorbs real-corpus bucket skew).  Pure so it is
    property-testable; clamped to [min_nibbles, max_nibbles]
    (8 nibbles x 4 bands = the full 128-bit md5 of the fake decoder; a
    real 64-bit DCT pHash caps at 4)."""
    import math

    target = max(1.0, bucket_cap / 16.0)
    nibbles = math.ceil(math.log(max(2.0, n_images / target), 16))
    return max(min_nibbles, min(max_nibbles, nibbles))


def _band_val_expr(start: int, n_chars: int) -> str:
    """SQL for the integer value of fingerprint[start, start+n_chars) —
    portable across Spark and DuckDB (no conv/from_hex, which differ)."""
    return " + ".join(
        f"(instr('{_HEX}', substring(fingerprint, {start + j + 1}, 1)) - 1)"
        f" * {16 ** (n_chars - 1 - j)}"
        for j in range(n_chars)
    )


def phash_near_dup_pairs(
    decoded: DataFrame,
    band_nibbles: int | None = None,
    max_hamming: int = _PHASH_MAX_HAMMING,
) -> DataFrame:
    """Banded hamming near-dup pairs over (doc_id, fingerprint).  With
    ``band_nibbles=None`` the band width is derived from the corpus size
    (one cheap count job) so band buckets stay bounded at any N."""
    if band_nibbles is None:
        band_nibbles = phash_banding_params(decoded.count())
    nb = _PHASH_BANDS
    vals = [
        F.expr(
            f"cast(({_band_val_expr(i * band_nibbles, band_nibbles)}) as bigint)"
        ).alias(f"v{i}")
        for i in range(nb)
    ]
    bands = decoded.select("doc_id", *vals, "fingerprint").select(
        "doc_id",
        *[f"v{i}" for i in range(nb)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring(
                            "fingerprint", i * band_nibbles + 1, band_nibbles
                        ).alias("bkey"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        *[f"v{i}" for i in range(nb)],
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # collapse multi-band collisions to one candidate row per pair
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.v{i}").alias(f"av{i}") for i in range(nb)],
            *[F.col(f"b.v{i}").alias(f"bv{i}") for i in range(nb)],
        )
        .distinct()
    )
    # hamming over the full hash = sum of per-band hammings (XOR is bitwise)
    hamming = F.expr(
        "cast(("
        + " + ".join(f"bit_count(av{i} ^ bv{i})" for i in range(nb))
        + ") as int)"
    )
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def image_phash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop, sweep 3: the final ORDER BY sat above the pair-
    # dedup's hash exchange, so its sampler re-ran only the distinct
    # final + hamming filter (cheap) — but the range exchange still
    # moved every pair row and the sampler was a whole extra job, for
    # an order the oracle canonicalizes.  A/B: r13_sortdrop3_ab.
    decoded = _decoded_frame(spark, sf_dir).select("doc_id", "fingerprint")
    pairs = phash_near_dup_pairs(decoded, band_nibbles=1)
    return pairs.sortWithinPartitions("doc_a", "doc_b")


def _phash_sql(band_nibbles: int = 1) -> str:
    nb = _PHASH_BANDS
    band_vals = ",\n         ".join(
        "CAST("
        + _band_val_expr(i * band_nibbles, band_nibbles).replace(
            "fingerprint", "fp"
        )
        + f" AS BIGINT) AS v{i}"
        for i in range(nb)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {', '.join(f'v{j}' for j in range(nb))}, {i} AS band,"
        f" substring(fp, {i * band_nibbles + 1}, {band_nibbles}) AS bkey FROM h"
        for i in range(nb)
    )
    val_cols = ", ".join(
        f"a.v{i} AS av{i}, b2.v{i} AS bv{i}" for i in range(nb)
    )
    hamming = " + ".join(f"bit_count(xor(av{i}, bv{i}))" for i in range(nb))
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS fp FROM documents
), h AS (
  SELECT doc_id, fp,
         {band_vals}
  FROM d
), b AS (
{band_rows}
), p AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         {val_cols}
  FROM b a JOIN b b2 ON a.band = b2.band AND a.bkey = b2.bkey
                    AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, CAST({hamming} AS INTEGER) AS hamming
FROM p
WHERE {hamming} <= {_PHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


# -- image dup CLUSTERS: transitive closure over the pHash pair graph ---------
# Same upgrade near_dup_doc_clusters makes for text: keeping one
# representative per duplicate *group* needs the transitive closure of the
# pairwise relation.  Reuses the generic distributed min-label kernel
# (operators/graph.py, pointer-jumping convergence); the oracle proves the
# fixpoint against a DuckDB recursive CTE over the identical edge set.


def image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import min_label_components

    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    edges = image_phash_near_dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = min_label_components(nodes, edges)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
            ).alias("members"),
        )
        .orderBy("component")
    )


def _image_clusters_sql() -> str:
    return f"""
WITH RECURSIVE p0 AS ({_phash_sql().replace("ORDER BY doc_a, doc_b", "")}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p0
  UNION SELECT doc_b, doc_a FROM p0
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT x.label AS component, count(*) AS n_images,
       array_to_string(list(node ORDER BY node), '|') AS members
FROM (SELECT node, min(label) AS label FROM reach GROUP BY node) x
GROUP BY x.label
ORDER BY component
"""


def image_dup_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 100 TB report shape of ``image_dup_clusters``: first-k
    member sample instead of the full '|'-joined member list (see
    graph.component_summary — no task materializes a whole component)."""
    from .graph import component_summary, min_label_components

    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    edges = image_phash_near_dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = min_label_components(nodes, edges)
    return (
        component_summary(comp, k=5)
        .withColumnRenamed("n_members", "n_images")
        .orderBy("component")
    )


def _image_cluster_summary_sql() -> str:
    return _image_clusters_sql().replace(
        "array_to_string(list(node ORDER BY node), '|') AS members",
        "array_to_string((list(node ORDER BY node))[1:5], '|') AS member_sample",
    )


# -- frame sampling stub (video-shaped): fixed-stride byte windows ------------


def frame_sample_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every 64th byte-window of the payload as a 'frame' and
    fingerprint each — the video-frame-sampling plan shape (explode of
    per-frame rows from one payload row, all JVM-side)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    frames = F.expr(
        "transform(sequence(1, greatest(length(cast(text as binary)) div 64, 1)),"
        " i -> md5(substring(cast(text as binary), (i - 1) * 64 + 1, 64)))"
    )
    frame = docs.select(
        "doc_id",
        F.posexplode(frames).alias("frame_no", "frame_md5"),
    ).withColumn("frame_no", F.col("frame_no").cast("int"))
    # r13 sort-drop: was orderBy(doc_id, frame_no) — the sampler re-ran
    # the per-frame md5 explode and the exchange carried every frame row
    # (see payload_metadata; r13_sortdrop_ab)
    return frame.sortWithinPartitions("doc_id", "frame_no")


_FRAME_SAMPLE_SQL = """
SELECT doc_id,
       CAST(g - 1 AS INTEGER) AS frame_no,
       md5(substring(text, (g - 1) * 64 + 1, 64)) AS frame_md5
FROM documents,
     unnest(generate_series(1, greatest(octet_length(encode(text)) // 64, 1)))
       AS t(g)
ORDER BY doc_id, frame_no
"""


# -- audio waveform features (numpy over Arrow batches) -----------------------
# Fake decode: payload bytes as centered int samples (a real implementation
# would pull PCM frames via soundfile/ffmpeg in the same batch loop).  The
# feature math — RMS, peak, zero crossings — is real vectorized numpy, the
# shape audio feature extraction takes at scale: narrow mapInPandas, no
# shuffle, one Arrow batch in flight per core.


def audio_waveform_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np
        import pandas as _pd

        def _feats(p: bytes) -> tuple[int, float, int, int]:
            s = np.frombuffer(p, dtype=np.uint8).astype(np.int64) - 96
            rms = math.sqrt(float((s * s).mean())) if len(s) else 0.0
            peak = int(np.abs(s).max()) if len(s) else 0
            zc = int(((s[1:] * s[:-1]) < 0).sum()) if len(s) > 1 else 0
            return len(s), rms, peak, zc

        for pdf in batches:
            # per-item kernel (variable-length payloads), one pass + zip
            out = [_feats(bytes(p)) for p in pdf["payload"]]
            n, rms, peak, zc = zip(*out) if out else ((), (), (), ())
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_samples": n,
                    "rms": rms,
                    "peak": peak,
                    "zero_crossings": zc,
                }
            )

    from ..functions.rounding import rnd

    raw = docs.mapInPandas(
        features,
        schema="doc_id long, rms double, n_samples long, peak long,"
        " zero_crossings long",
    )
    frame = raw.select(
        "doc_id",
        "n_samples",
        rnd(F.col("rms"), 4).alias("rms"),
        "peak",
        "zero_crossings",
    )
    # r13 sort-drop: was orderBy(doc_id) — the sampler re-ran the numpy
    # waveform kernel (see payload_metadata; r13_sortdrop_ab)
    return frame.sortWithinPartitions("doc_id")


_AUDIO_SQL = """
WITH samples AS (
  SELECT doc_id, g,
         ord(substring(text, g, 1)) - 96 AS s
  FROM documents, unnest(generate_series(1, length(text))) AS t(g)
), crossings AS (
  SELECT doc_id,
         CASE WHEN s * lag(s) OVER (PARTITION BY doc_id ORDER BY g) < 0
              THEN 1 ELSE 0 END AS zc
  FROM samples
)
SELECT s.doc_id,
       count(*) AS n_samples,
       floor(sqrt(avg(CAST(s.s * s.s AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS rms,
       max(abs(s.s)) AS peak,
       (SELECT CAST(sum(zc) AS BIGINT) FROM crossings c WHERE c.doc_id = s.doc_id) AS zero_crossings
FROM samples s
GROUP BY s.doc_id
ORDER BY s.doc_id
"""

# -- nearest-neighbor resize stub (pure column ops, JVM-side) -----------------
# Downsample the payload to a fixed 64-byte "thumbnail" by nearest-neighbor
# index selection — the resize plan shape with zero Python: at scale this is
# a narrow whole-stage-codegen projection over the payload column.


def image_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    thumb = F.expr(
        "concat_ws('', transform(sequence(0, 63),"
        " k -> substring(text, 1 + (k * length(text)) div 64, 1)))"
    )
    frame = docs.select(
        "doc_id",
        F.md5(thumb.cast("binary")).alias("thumb_md5"),
        F.length(thumb).alias("thumb_len"),
    )
    # r13 sort-drop: was orderBy(doc_id) — the sampler re-ran the 64-way
    # nearest-neighbor HOF (see payload_metadata; r13_sortdrop_ab)
    return frame.sortWithinPartitions("doc_id")


_RESIZE_SQL = """
SELECT doc_id,
       md5((SELECT string_agg(substring(text, 1 + (k * length(text)) // 64, 1), '' ORDER BY k)
            FROM unnest(generate_series(0, 63)) AS t(k))) AS thumb_md5,
       CAST(64 AS INTEGER) AS thumb_len
FROM documents
ORDER BY doc_id
"""


QUERIES = {
    "payload_metadata": payload_metadata,
    "image_decode_features": image_decode_features,
    "image_phash_near_dup_pairs": image_phash_near_dup_pairs,
    "image_dup_clusters": image_dup_clusters,
    "image_dup_cluster_summary": image_dup_cluster_summary,
    "image_resize_features": image_resize_features,
    "frame_sample_features": frame_sample_features,
    "audio_waveform_features": audio_waveform_features,
}

ORACLE = {
    "payload_metadata": _PAYLOAD_META_SQL,
    "image_decode_features": _IMAGE_DECODE_SQL,
    "image_phash_near_dup_pairs": _phash_sql(),
    "image_dup_clusters": _image_clusters_sql(),
    "image_dup_cluster_summary": _image_cluster_summary_sql(),
    "image_resize_features": _RESIZE_SQL,
    "frame_sample_features": _FRAME_SAMPLE_SQL,
    "audio_waveform_features": _AUDIO_SQL,
}
