"""Multimodal column handling (beyond-reference, north-star surface).

Images/audio/video are opaque ``binary`` columns with typed metadata.
The Spark-side plumbing here is real — schema, Arrow-batched
``mapInPandas``, partition behavior — while the actual codec step is
stubbed: the container ships no image/audio libraries, so
``decode_features`` computes deterministic pseudo-features from the
bytes (documented below), and ``decode_image``/``decode_audio`` raise
``NotImplementedError`` unless PIL/soundfile are importable.

Scale notes: ``mapInPandas`` streams Arrow batches — constant memory
per task regardless of file count; binary payloads stay off the
driver; feature extraction parallelism == partition count, so
``repartition(n)`` before decode controls codec parallelism.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import read_table

FEATURE_SCHEMA = (
    "doc_id bigint, byte_len bigint, payload_md5 string, "
    "fake_width bigint, fake_height bigint"
)


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake decoder: md5 + byte-length-derived dims.

    Stands in for a real image decode (PIL) / audio decode
    (soundfile); swap the body, keep the signature + schema.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": payloads.map(len).astype("int64"),
                "payload_md5": payloads.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
                "fake_width": payloads.map(lambda b: len(b) % 640).astype("int64"),
                "fake_height": payloads.map(lambda b: len(b) % 480).astype("int64"),
            }
        )


def decode_image(payload: bytes):  # pragma: no cover - env-gated
    """Real image decode — requires PIL, absent in this container."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as exc:
        raise NotImplementedError(
            "image codec not available in this environment; "
            "use _decode_batch's deterministic fake features"
        ) from exc


def extract_features(binary_df: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → feature rows via Arrow-batched
    mapInPandas. Repartition upstream to control codec parallelism."""
    return binary_df.mapInPandas(_decode_batch, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string"


def _frame_sample_batch(chunk_size: int, stride: int):
    """Deterministic fake frame sampler: every ``stride``-th
    ``chunk_size``-byte slice of the payload stands in for a decoded
    video frame. Real implementation swaps the slicing for a codec's
    keyframe iterator; the 1→N output shape, Arrow batching, and
    schema contract are what downstream operators depend on.

    The fingerprint is md5 over the slice's lowercase-hex encoding
    (not the raw bytes) so the DuckDB oracle can replay it exactly —
    DuckDB 1.0's md5 only accepts VARCHAR and has no BLOB substring,
    so both engines fingerprint ``md5(lower(hex(slice)))``."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                frames = [
                    b[o : o + chunk_size]
                    for o in range(0, max(len(b), 1), chunk_size)
                ][::stride]
                for i, fr in enumerate(frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    hashes.append(hashlib.md5(fr.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_md5": hashes}
            )

    return fn


def sample_frames(
    binary_df: DataFrame, chunk_size: int = 256, stride: int = 2
) -> DataFrame:
    """(doc_id, payload) → one row per sampled frame (1→N mapInPandas)."""
    return binary_df.mapInPandas(
        _frame_sample_batch(chunk_size, stride), schema=FRAME_SCHEMA
    )


_MULTIMODAL_ORACLE = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS byte_len,
       md5(text) AS payload_md5,
       CAST(strlen(text) % 640 AS BIGINT) AS fake_width,
       CAST(strlen(text) % 480 AS BIGINT) AS fake_height
FROM documents
"""


@register(
    "multimodal_decode_stub",
    _MULTIMODAL_ORACLE,
    doc="Multimodal plumbing: binary payload column → Arrow-batched "
    "mapInPandas feature extraction (codec stubbed deterministically; "
    "md5/byte-len features verifiable in SQL)",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents.text stands in for the binary payload (utf-8 encoded);
    # a real pipeline reads `binary` columns from parquet the same way.
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return extract_features(docs)


# Oracle replays the byte-slicing in hex space: byte slice
# b[o : o+chunk] ≡ hex chars [2o : 2o+2*chunk], so
# substring(lower(hex(payload)), o*2+1, chunk*2) is the exact slice and
# md5() of it is the exact fingerprint.  DuckDB 1.0 range() rejects
# lateral column params, so chunk numbers come from one number series
# sized by the widest document and filtered per-doc.
_FRAME_ORACLE = """
WITH payload AS (
  SELECT doc_id, lower(hex(encode(text))) AS h,
         greatest(octet_length(encode(text)), 1) AS n
  FROM documents
),
nums AS (
  SELECT unnest(range(0, (SELECT CAST(ceil(max(n) / 256.0) AS BIGINT)
                          FROM payload))) AS chunk_no
),
chunks AS (
  SELECT doc_id, h, chunk_no
  FROM payload CROSS JOIN nums
  WHERE chunk_no * 256 < n AND chunk_no % 2 = 0
)
SELECT doc_id,
       CAST(chunk_no // 2 AS INT) AS frame_idx,
       md5(substring(h, chunk_no * 512 + 1, 512)) AS frame_md5
FROM chunks
"""


@register(
    "multimodal_frame_sample",
    _FRAME_ORACLE,
    doc="Frame sampling over opaque video payloads: every-Nth-chunk "
    "slices via 1→N Arrow-batched mapInPandas (codec stubbed; the "
    "explode-shaped UDF contract is the real plumbing; hex-space md5 "
    "fingerprints are replayed exactly by the DuckDB oracle)",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return sample_frames(docs)


# ---------------------------------------------------------------------------
# Format sniffing from magic bytes — pure built-ins, no UDF
# ---------------------------------------------------------------------------

# Magic-byte prefixes (hex): PNG, JPEG, GIF. The testdata ships no real
# media, so payloads are synthesized by prepending a header chosen by
# doc_id % 4 to the utf-8 text bytes — the DETECTION path (hex-prefix
# dispatch over a binary column) is exactly what runs on real blobs.
_MAGIC = {"PNG": "89504E47", "JPEG": "FFD8FFE0", "GIF": "47494638"}

_SNIFF_ORACLE = f"""
WITH payload AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN '{_MAGIC["PNG"]}'
           WHEN 1 THEN '{_MAGIC["JPEG"]}'
           WHEN 2 THEN '{_MAGIC["GIF"]}'
           ELSE ''
         END || upper(hex(encode(text))) AS payload_hex
  FROM documents
)
SELECT doc_id,
       CASE
         WHEN payload_hex LIKE '{_MAGIC["PNG"]}%' THEN 'png'
         WHEN payload_hex LIKE '{_MAGIC["JPEG"]}%' THEN 'jpeg'
         WHEN payload_hex LIKE '{_MAGIC["GIF"]}%' THEN 'gif'
         ELSE 'unknown'
       END AS detected_format,
       CAST(length(payload_hex) / 2 AS BIGINT) AS payload_bytes
FROM payload
"""


@register(
    "multimodal_format_sniff",
    _SNIFF_ORACLE,
    doc="Media-format sniffing from magic bytes (PNG/JPEG/GIF hex "
    "prefixes) — pure built-in hex/prefix dispatch over the payload "
    "column, no UDF; headers synthesized since the testdata has no real "
    "media, detection path identical for real blobs",
    tags=("multimodal", "binary"),
)
def multimodal_format_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    header = (
        F.when(F.col("doc_id") % 4 == 0, _MAGIC["PNG"])
        .when(F.col("doc_id") % 4 == 1, _MAGIC["JPEG"])
        .when(F.col("doc_id") % 4 == 2, _MAGIC["GIF"])
        .otherwise("")
    )
    payload_hex = F.concat(header, F.upper(F.hex(F.encode("text", "utf-8"))))
    detected = (
        F.when(payload_hex.startswith(_MAGIC["PNG"]), "png")
        .when(payload_hex.startswith(_MAGIC["JPEG"]), "jpeg")
        .when(payload_hex.startswith(_MAGIC["GIF"]), "gif")
        .otherwise("unknown")
    )
    return docs.select(
        "doc_id",
        detected.alias("detected_format"),
        (F.length(payload_hex) / 2).cast("bigint").alias("payload_bytes"),
    )


# ---------------------------------------------------------------------------
# ViT-style patch grid — pure relational explode over image dims
# ---------------------------------------------------------------------------
#
# The vision-transformer preprocessing step: an (W x H) image becomes a
# grid of 16-px patches with edge patches clamped. Dims come from the
# decode stub (byte-length-derived fakes; a real pipeline feeds decoded
# metadata), the grid itself is one sequence-explode projection — no
# Python, no shuffle, 1→N like real patch extraction. Sampled to every
# 100th doc so the certified result stays driver-collectable.

PATCH = 16

_PATCH_ORACLE = f"""
WITH dims AS (
  SELECT doc_id,
         greatest(CAST(strlen(text) % 640 AS BIGINT), {PATCH}) AS w,
         greatest(CAST(strlen(text) % 480 AS BIGINT), {PATCH}) AS h
  FROM documents WHERE doc_id % 100 = 0
),
d2 AS (
  SELECT *, CAST(ceil(w / {PATCH}.0) AS BIGINT) AS nx,
            CAST(ceil(h / {PATCH}.0) AS BIGINT) AS ny
  FROM dims
),
nums AS (
  SELECT unnest(range(0, (SELECT max(nx * ny) FROM d2))) AS p
),
g AS (
  SELECT doc_id, w, h, nx, p FROM d2 CROSS JOIN nums WHERE p < nx * ny
)
SELECT doc_id,
       p // nx AS patch_row,
       p % nx AS patch_col,
       (p % nx) * {PATCH} AS x0,
       (p // nx) * {PATCH} AS y0,
       least({PATCH}, w - (p % nx) * {PATCH}) AS w_px,
       least({PATCH}, h - (p // nx) * {PATCH}) AS h_px
FROM g
"""


@register(
    "multimodal_patch_grid",
    _PATCH_ORACLE,
    doc="ViT-style 16-px patch grid over (stub-decoded) image dims "
    "with clamped edge patches — 1-to-N sequence-explode projection, "
    "zero Python/shuffle; the real patch-extraction plumbing shape",
    tags=("multimodal", "explode"),
)
def multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 100 == 0
    )
    blen = F.length(F.encode("text", "utf-8")).cast("bigint")
    dims = docs.select(
        "doc_id",
        F.greatest(blen % 640, F.lit(PATCH)).alias("w"),
        F.greatest(blen % 480, F.lit(PATCH)).alias("h"),
    ).withColumn(
        "nx", F.ceil(F.col("w") / PATCH).cast("bigint")
    ).withColumn(
        "ny", F.ceil(F.col("h") / PATCH).cast("bigint")
    )
    g = dims.select(
        "doc_id", "w", "h", "nx",
        F.explode(F.expr("sequence(0, nx * ny - 1)")).alias("p"),
    )
    col = F.col("p") % F.col("nx")
    row = F.expr("p div nx")
    return g.select(
        "doc_id",
        row.alias("patch_row"),
        col.alias("patch_col"),
        (col * PATCH).alias("x0"),
        (row * PATCH).alias("y0"),
        F.least(F.lit(PATCH), F.col("w") - col * PATCH).alias("w_px"),
        F.least(F.lit(PATCH), F.col("h") - row * PATCH).alias("h_px"),
    )


# ---------------------------------------------------------------------------
# Audio-envelope extraction
# ---------------------------------------------------------------------------

ENVELOPE_SCHEMA = (
    "doc_id bigint, window_idx int, n_bytes bigint, byte_sum bigint, "
    "peak bigint"
)
_ENVELOPE_WINDOW = 128


def _envelope_batch(window: int):
    """Deterministic fake audio feature: per-window byte statistics
    (count / sum / peak) stand in for RMS-energy frames of a PCM
    decode. Integer outputs, so the DuckDB oracle replays them
    exactly byte-for-byte; a real implementation swaps the byte loop
    for soundfile frames and keeps the 1→N schema contract."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ns, sums, peaks = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for w in range(0, len(b), window):
                    chunk = b[w : w + window]
                    ids.append(doc_id)
                    idxs.append(w // window)
                    ns.append(len(chunk))
                    sums.append(sum(chunk))
                    peaks.append(max(chunk))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "window_idx": pd.array(idxs, dtype="int32"),
                    "n_bytes": pd.array(ns, dtype="int64"),
                    "byte_sum": pd.array(sums, dtype="int64"),
                    "peak": pd.array(peaks, dtype="int64"),
                }
            )

    return fn


def audio_envelope(
    binary_df: DataFrame, window: int = _ENVELOPE_WINDOW
) -> DataFrame:
    """(doc_id, payload) → one row per ``window``-byte frame with
    count/sum/peak byte statistics (1→N Arrow-batched mapInPandas —
    the same streaming shape a PCM feature extractor needs; empty
    payloads produce no frames)."""
    return binary_df.mapInPandas(_envelope_batch(window), schema=ENVELOPE_SCHEMA)


# Oracle replays the byte loop in hex space: byte i of the payload is
# hex chars [2i, 2i+2), decoded with the same '0x' cast the dedup
# oracles use. One number series sized by the longest payload,
# filtered per-doc (the multimodal_frame_sample pattern).
_ENVELOPE_ORACLE = f"""
WITH payload AS (
  SELECT doc_id, lower(hex(encode(text))) AS h,
         octet_length(encode(text)) AS n
  FROM documents
),
nums AS (
  SELECT unnest(range(0, (SELECT MAX(n) FROM payload))) AS i
),
bytes AS (
  SELECT doc_id, i,
         ('0x' || substr(h, CAST(i * 2 + 1 AS BIGINT), 2))::BIGINT AS v
  FROM payload CROSS JOIN nums
  WHERE i < n
)
SELECT doc_id,
       CAST(i // {_ENVELOPE_WINDOW} AS INT) AS window_idx,
       COUNT(*) AS n_bytes,
       CAST(SUM(v) AS BIGINT) AS byte_sum,
       MAX(v) AS peak
FROM bytes
GROUP BY 1, 2
"""


@register(
    "multimodal_audio_envelope",
    _ENVELOPE_ORACLE,
    doc="Audio-envelope plumbing: opaque payload → per-128-byte-window "
    "count/sum/peak statistics via 1→N Arrow-batched mapInPandas "
    "(PCM decode stubbed deterministically; integer features replayed "
    "byte-exactly by the hex-space DuckDB oracle)",
    tags=("multimodal", "audio", "pandas-udf"),
)
def multimodal_audio_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return audio_envelope(docs)


# ---------------------------------------------------------------------------
# Cross-video frame overlap
# ---------------------------------------------------------------------------
#
# Near-dup detection for VIDEO: two payloads sharing sampled-frame
# fingerprints are re-encodes / clips of the same footage — the
# multimodal twin of paragraph-grain text dedup. Rides the existing
# frame sampler (1→N Arrow-batched mapInPandas, codec stubbed, same
# hex-space fingerprints the oracle replays), then the shuffle key is
# the frame fingerprint — an inverted index over frames, never a
# payload×payload join. A per-fingerprint document cap bounds
# boilerplate frames (intros, black frames) exactly like
# MinHash-LSH's hot-bucket cap; capped fingerprints drop out of the
# candidate join, mirrored by the oracle.

FRAME_OVERLAP_DOC_CAP = 16


_FRAME_OVERLAP_ORACLE = f"""
WITH payload AS (
  SELECT doc_id, lower(hex(encode(text))) AS h,
         greatest(octet_length(encode(text)), 1) AS n
  FROM documents
),
nums AS (
  SELECT unnest(range(0, (SELECT CAST(ceil(max(n) / 256.0) AS BIGINT)
                          FROM payload))) AS chunk_no
),
frames AS (
  SELECT DISTINCT doc_id,
         md5(substring(h, chunk_no * 512 + 1, 512)) AS frame_md5
  FROM payload CROSS JOIN nums
  WHERE chunk_no * 256 < n AND chunk_no % 2 = 0
),
nf AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames FROM frames GROUP BY 1
),
fdf AS (
  SELECT frame_md5, COUNT(*) AS n_docs FROM frames GROUP BY 1
),
keep AS (
  SELECT f.doc_id, f.frame_md5
  FROM frames f JOIN fdf USING (frame_md5)
  WHERE fdf.n_docs BETWEEN 2 AND {FRAME_OVERLAP_DOC_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM keep a JOIN keep b ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       CAST(p.n_shared AS DOUBLE) / least(na.n_frames, nb.n_frames)
         AS containment
FROM pairs p
JOIN nf na ON na.doc_id = p.doc_a
JOIN nf nb ON nb.doc_id = p.doc_b
"""


@register(
    "multimodal_frame_overlap",
    _FRAME_OVERLAP_ORACLE,
    doc="Cross-video near-dup detection: payload pairs sharing "
    "sampled-frame fingerprints (re-encodes/clips of the same "
    "footage), with containment = shared / min frame count. "
    "Fingerprint-keyed inverted index — never payload×payload — with "
    f"a {FRAME_OVERLAP_DOC_CAP}-doc hot-fingerprint cap (the "
    "MinHash hot-bucket pattern); frames come from the stubbed "
    "Arrow-batched sampler the oracle replays in hex space",
    tags=("multimodal", "dedup", "pandas-udf", "join"),
)
def multimodal_frame_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    frames = sample_frames(docs).select("doc_id", "frame_md5").distinct()
    nf = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames")
    )
    fdf = frames.groupBy("frame_md5").agg(F.count(F.lit(1)).alias("n_docs"))
    keep = (
        frames.join(fdf, "frame_md5")
        .where(F.col("n_docs").between(2, FRAME_OVERLAP_DOC_CAP))
        .select("doc_id", "frame_md5")
    )
    a = keep.select("frame_md5", F.col("doc_id").alias("doc_a"))
    b = keep.select("frame_md5", F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "frame_md5")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    na = nf.select(F.col("doc_id").alias("doc_a"), F.col("n_frames").alias("nfa"))
    nb = nf.select(F.col("doc_id").alias("doc_b"), F.col("n_frames").alias("nfb"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("nfa"), F.col("nfb"))
            ).alias("containment"),
        )
    )
