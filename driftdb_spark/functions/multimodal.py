"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched Pandas functions.

The decode step itself is STUBBED (no image/audio libraries in this
container): ``_decode_image_stub`` produces a deterministic fake
(dimensions + per-channel means derived from the bytes), clearly marked.
Everything around it — the schema contract, ``mapInPandas`` batch shape,
partition behavior, feature-vector output — is real and tested; swapping in
PIL/ffmpeg later changes only the stub's body.

Design: binary payloads never pass through Python row-at-a-time. The batch
arrives as Arrow; the UDF is vectorized over the pandas Series. Feature
extraction emits fixed-width arrays so downstream similarity ops
(functions/similarity.py) apply unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("source", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channel_means", T.ArrayType(T.DoubleType()), True),
        T.StructField("phash", T.StringType(), True),
    ]
)


def _decode_image_stub(content: bytes) -> tuple[int, int, list[float]]:
    """DETERMINISTIC FAKE decoder — stands in for PIL/libvips (not available
    in this container). Derives (width, height, channel means) from a content
    digest so tests are stable. Replace the body with a real decode to go
    live; the schema/batching contract stays identical."""
    digest = hashlib.sha256(content).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    means = [digest[2 + c] / 255.0 for c in range(3)]
    return width, height, means


def extract_image_features(media: DataFrame) -> DataFrame:
    """Vectorized feature extraction over binary image columns.

    ``mapInPandas``: each Arrow batch of (media_id, content) pandas frames →
    fixed-width feature rows. Binary bytes stay in Arrow buffers until the
    stub touches them.
    """

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                _decode_image_stub(c if c is not None else b"") for c in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "channel_means": [d[2] for d in decoded],
                    "phash": [
                        hashlib.sha256(c if c is not None else b"").hexdigest()[:16]
                        for c in pdf["content"]
                    ],
                }
            )

    return media.filter(F.col("kind") == "image").select("media_id", "content").mapInPandas(
        features, IMAGE_FEATURES_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan*: emits (media_id, frame_idx) work units
    from the metadata without decoding — the shuffle-friendly shape where
    each frame decode lands on its own task. The decode itself is the same
    stubbed boundary as images."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        (F.col("meta.n_bytes") / (every_n * 1024)).cast("int"), F.lit(0)
                    ),
                )
            ).alias("frame_idx"),
        )
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio twin of :func:`extract_image_features` — same Arrow-batched
    ``mapInPandas`` contract; the decode is the same deterministic stub
    boundary (no audio libs in this container)."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, durs, rms = [], [], []
            for c in pdf["content"]:
                c = c if c is not None else b""
                digest = hashlib.sha256(c).digest()
                rates.append(8000 * (1 + digest[0] % 6))
                durs.append(round(len(c) / 1024.0, 6))
                rms.append(digest[1] / 255.0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": rates,
                    "duration_s": durs,
                    "rms": rms,
                }
            )

    return media.filter(F.col("kind") == "audio").select("media_id", "content").mapInPandas(
        features, AUDIO_FEATURES_SCHEMA
    )


def _media_local_relation(spark, rows) -> DataFrame:
    """MEDIA_SCHEMA-shaped fixture as a JVM LocalRelation (inline VALUES
    with hex-encoded payloads, unhex'd in the select).

    ``createDataFrame(list)`` builds a pickled-RDD-backed frame whose scan
    re-enters a Python worker on EVERY action — measured 1.8-2.0 s per
    noop materialization for a 24-row fixture, which dominated every
    multimodal query (guide §4: eliminate the JVM↔Python boundary; this
    one was hiding in the FIXTURE, not the decode). The inline-table form
    evaluates wholly in the JVM: same rows, 0.06 s.
    """
    vals = ",".join(
        f"(CAST({i} AS BIGINT), '{kind}', '{content.hex()}', "
        f"named_struct('mime', '{mime}', 'source', '{src}', "
        f"'n_bytes', CAST({nb} AS BIGINT)))"
        for i, kind, content, (mime, src, nb) in rows
    )
    return spark.sql(
        "SELECT media_id, kind, unhex(hex) AS content, meta "
        f"FROM VALUES {vals} AS t(media_id, kind, hex, meta)"
    )


def synthetic_media(spark, n: int = 8) -> DataFrame:
    """Deterministic in-memory media fixture (the testdata has no binary
    table); used by tests and demos. Single-partition LocalRelation —
    real media tables arrive already partitioned by size."""
    rows = []
    for i in range(n):
        content = bytes([(i * 37 + j) % 256 for j in range(256 + i)])
        kind = ["image", "audio", "video"][i % 3]
        rows.append(
            (i, kind, content, (f"{kind}/x-fake", f"src{i % 3}", len(content)))
        )
    return _media_local_relation(spark, rows)


# ---------------------------------------------------------------------------
# Registered queries — multimodal columns as first-class registry entries.
# ---------------------------------------------------------------------------

from pyspark.sql import SparkSession  # noqa: E402

from driftdb_spark.catalog import load_tables  # noqa: E402
from driftdb_spark.registry import register  # noqa: E402


@register(
    "multimodal_binary_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
           MAX(octet_length(CAST(text AS BLOB))) AS max_bytes,
           COUNT(DISTINCT md5(text)) AS distinct_digests
    FROM documents
    GROUP BY source
    """,
    tags=("multimodal",),
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column handling, oracle-checked end to end: document
    text cast to a ``binary`` payload column (the exact shape image/audio
    blobs take), then byte-length stats and content digests per source —
    proving binary round-trips byte-identically through the engine. Spark
    digests the binary; DuckDB digests the UTF-8 source string (same bytes).

    Scale: pure JVM-side byte ops inside whole-stage codegen; the binary
    column is never shipped to Python. Group-by on low-cardinality `source`
    → map-side partial aggregation shrinks the shuffle to ~|sources| rows.
    """
    d = load_tables(spark, sf_dir)["documents"]
    payload = d.select(
        "source", F.col("text").cast("binary").alias("content"), "text"
    )
    return payload.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.max(F.length("content")).alias("max_bytes"),
        F.countDistinct(F.md5("content")).alias("distinct_digests"),
    )


@register("multimodal_image_features", oracle=None, tags=("multimodal",))
def multimodal_image_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode → fixed-width feature vectors via Arrow-batched
    ``mapInPandas`` (decode stubbed deterministically — no image libs here;
    see ``_decode_image_stub``). Rows-only check: UDF output is not
    SQL-expressible. Deterministic fixture, so stable across runs."""
    media = synthetic_media(spark, n=24)
    feats = extract_image_features(media)
    return feats.orderBy("media_id").select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("channel_means", 1), 6).alias("mean_r"),
        "phash",
    )


@register("multimodal_frame_sample", oracle=None, tags=("multimodal",))
def multimodal_frame_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: metadata-driven (media_id, frame_idx) work
    units, exploded so each decode would land on its own task — the 100 TB
    shape where a 2-hour video fans out across the cluster instead of pinning
    one executor. Decode itself stays behind the stub boundary."""
    media = synthetic_media(spark, n=24)
    plan = frame_sample_plan(media, every_n=30)
    return (
        plan.groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"), F.max("frame_idx").alias("max_idx"))
        .orderBy("media_id")
    )


@register("multimodal_audio_features", oracle=None, tags=("multimodal",))
def multimodal_audio_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction through the same Arrow-batched stub boundary."""
    media = synthetic_media(spark, n=24)
    return extract_audio_features(media).orderBy("media_id")


# ---------------------------------------------------------------------------
# Real decode path: PPM (P6) needs no media library — pure bytes + numpy.
# The stubbed JPEG/PNG boundary above shows the contract; this shows the
# contract carrying REAL pixel math end-to-end through mapInPandas.
# ---------------------------------------------------------------------------

import re as _re  # noqa: E402

import numpy as _np  # noqa: E402

PPM_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channel_means", T.ArrayType(T.DoubleType()), True),
        T.StructField("thumb_2x2", T.ArrayType(T.DoubleType()), True),
    ]
)


def ppm_bytes(media_id: int, width: int, height: int) -> bytes:
    """A real binary P6 PPM image with a deterministic per-id gradient."""
    x = _np.arange(width, dtype=_np.int64)[None, :]
    y = _np.arange(height, dtype=_np.int64)[:, None]
    r = (x * 3 + y * 5 + media_id) % 256
    g = (x + 2 * y + 7 * media_id) % 256
    b = (x * y + media_id) % 256
    img = _np.stack(
        [_np.broadcast_to(c, (height, width)) for c in (r, g, b)], axis=-1
    ).astype(_np.uint8)
    return f"P6\n{width} {height}\n255\n".encode() + img.tobytes()


def decode_ppm(content: bytes) -> tuple[int, int, list[float], list[float]]:
    """REAL image decode — header parse, pixel buffer, channel means, and a
    2×2 block-mean thumbnail — no image library involved."""
    m = _re.match(rb"P6\s+(\d+)\s+(\d+)\s+255\s", content)
    if m is None:
        return 0, 0, [], []
    w, h = int(m.group(1)), int(m.group(2))
    px = _np.frombuffer(content, dtype=_np.uint8, count=w * h * 3, offset=m.end())
    img = px.reshape(h, w, 3).astype(_np.float64)
    means = [float(v) for v in img.mean(axis=(0, 1))]
    thumb = img.reshape(2, h // 2, 2, w // 2, 3).mean(axis=(1, 3))
    return w, h, means, [float(v) for v in thumb.reshape(-1)]


def extract_ppm_features(media: DataFrame) -> DataFrame:
    """Same Arrow-batched ``mapInPandas`` contract as the stubbed decoders,
    but the body does real pixel arithmetic (vectorized numpy per image)."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_ppm(c if c is not None else b"") for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "channel_means": [d[2] for d in decoded],
                    "thumb_2x2": [d[3] for d in decoded],
                }
            )

    return media.select("media_id", "content").mapInPandas(
        features, PPM_FEATURES_SCHEMA
    )


def synthetic_ppm_media(spark, n: int = 6) -> DataFrame:
    """Real PPM images as a binary-column DataFrame (even dims for the 2×2
    thumbnail blocks)."""
    rows = []
    for i in range(n):
        w, h = 8 + 2 * (i % 5), 6 + 2 * (i % 4)
        content = ppm_bytes(i, w, h)
        rows.append((i, "image", content, ("image/x-portable-pixmap", f"src{i % 3}", len(content))))
    return _media_local_relation(spark, rows)


@register(
    "multimodal_ppm_decode",
    oracle=None,  # pixel decode is not SQL-expressible; exactness is pinned
    # by tests/test_multimodal.py::test_ppm_decode_matches_numpy
    tags=("multimodal",),
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decoding through the multimodal boundary: binary P6 PPM
    payloads (library-free format) decoded to dimensions, channel means,
    and a 2×2 block-mean thumbnail inside an Arrow-batched mapInPandas —
    the same plumbing the stubbed JPEG path uses, proven with actual pixel
    math. Deterministic, so the rows-only check is stable; the pytest
    asserts bit-equality against an independent numpy decode."""
    return extract_ppm_features(synthetic_ppm_media(spark)).orderBy("media_id")


# --- real WAV (PCM) audio decode --------------------------------------------

WAV_FEATURES_SCHEMA = (
    "media_id long, sample_rate int, n_samples int, duration_ms double, "
    "rms double, zero_crossings int"
)


def wav_bytes(media_id: int, sample_rate: int = 8000, n: int = 1600) -> bytes:
    """A real RIFF/WAVE file (PCM16 mono) carrying a deterministic per-id
    waveform — library-free, like the PPM generator."""
    t = _np.arange(n, dtype=_np.float64)
    freq = 110.0 * (1 + media_id % 7)
    wave = _np.sin(2 * _np.pi * freq * t / sample_rate) * 0.5
    wave += _np.sign(_np.sin(2 * _np.pi * (freq / 3.0) * t / sample_rate)) * 0.25
    pcm = _np.clip(wave * 32767.0, -32768, 32767).astype("<i2").tobytes()
    import struct as _struct

    hdr = b"RIFF" + _struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + _struct.pack(
        "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    data = b"data" + _struct.pack("<I", len(pcm))
    return hdr + fmt + data + pcm


def decode_wav(content: bytes) -> tuple[int, int, float, float, int]:
    """REAL audio decode — RIFF header walk, PCM16 samples, RMS, zero
    crossings — no audio library involved. Unknown chunks are skipped
    (the RIFF contract), malformed input degrades to zeros."""
    import struct as _struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return 0, 0, 0.0, 0.0, 0
    pos, rate, pcm = 12, 0, b""
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (clen,) = _struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            _fmt, _ch, rate = _struct.unpack("<HHI", body[:8])
        elif cid == b"data":
            pcm = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate == 0 or not pcm:
        return 0, 0, 0.0, 0.0, 0
    x = _np.frombuffer(pcm, dtype="<i2").astype(_np.float64) / 32768.0
    n = len(x)
    rms = float(_np.sqrt(_np.mean(x * x))) if n else 0.0
    zc = int(_np.count_nonzero(_np.diff(_np.signbit(x)))) if n > 1 else 0
    return rate, n, round(n * 1000.0 / rate, 3), round(rms, 6), zc


def extract_wav_features(media: DataFrame) -> DataFrame:
    """Arrow-batched ``mapInPandas`` over binary WAV payloads — the audio
    twin of ``extract_ppm_features``: real sample math, batched transfer,
    no per-row Python UDF."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_wav(c if c is not None else b"") for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": [d[0] for d in decoded],
                    "n_samples": [d[1] for d in decoded],
                    "duration_ms": [d[2] for d in decoded],
                    "rms": [d[3] for d in decoded],
                    "zero_crossings": [d[4] for d in decoded],
                }
            )

    return media.select("media_id", "content").mapInPandas(
        features, WAV_FEATURES_SCHEMA
    )


def synthetic_wav_media(spark, n: int = 6) -> DataFrame:
    """Real WAV files as a binary-column DataFrame (JVM LocalRelation —
    see _media_local_relation for why not createDataFrame)."""
    vals = ",".join(
        f"(CAST({i} AS BIGINT), '{wav_bytes(i).hex()}')" for i in range(n)
    )
    return spark.sql(
        "SELECT media_id, unhex(hex) AS content "
        f"FROM VALUES {vals} AS t(media_id, hex)"
    )


@register(
    "multimodal_wav_decode",
    oracle=None,  # sample decode is not SQL-expressible; exactness is
    # pinned by tests/test_multimodal.py::test_wav_decode_matches_struct
    tags=("multimodal",),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decoding through the multimodal boundary: RIFF/PCM16 WAV
    payloads decoded to sample rate, duration, RMS, and zero-crossing
    counts inside an Arrow-batched mapInPandas — the audio twin of the
    PPM image decode, proven with actual sample math. Deterministic, so
    the rows-only check is stable."""
    return extract_wav_features(synthetic_wav_media(spark)).orderBy("media_id")


# --- perceptual-hash image near-dup detection --------------------------------
# The missing dedup modality: text has MinHash/SimHash, embeddings have
# cosine; images get dHash (difference hash) over REAL decoded pixels —
# the standard near-dup key that survives re-encoding and mild noise.


def dhash_ppm(content: bytes) -> int:
    """REAL perceptual hash: decode the P6 pixels, reduce to luminance,
    block-mean down to a 9×8 grid, emit 64 bits of left<right comparisons
    (dHash). Pure numpy, no image library; returns a signed int64 so the
    bits survive a Spark LongType column (xor/bit_count don't care about
    sign)."""
    m = _re.match(rb"P6\s+(\d+)\s+(\d+)\s+255\s", content or b"")
    if m is None:
        return 0
    w, h = int(m.group(1)), int(m.group(2))
    px = _np.frombuffer(content, dtype=_np.uint8, count=w * h * 3, offset=m.end())
    img = px.reshape(h, w, 3).astype(_np.float64)
    gray = img @ _np.array([0.299, 0.587, 0.114])
    # block means onto a 9×8 grid with integer boundaries (deterministic)
    ys = (_np.arange(9) * h) // 8
    xs = (_np.arange(10) * w) // 9
    grid = _np.empty((8, 9))
    for r in range(8):
        for c in range(9):
            grid[r, c] = gray[ys[r]: ys[r + 1], xs[c]: xs[c + 1]].mean()
    bits = (grid[:, :-1] < grid[:, 1:]).reshape(-1)
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return int(_np.int64(_np.uint64(val)))


PHASH_SCHEMA = "media_id long, phash long"


def extract_ppm_phash(media: DataFrame) -> DataFrame:
    """Arrow-batched ``mapInPandas`` emitting one 64-bit dHash per image —
    the only Python boundary in the image-dedup path; everything after
    (banding, candidate join, hamming filter) is JVM-side bit math."""

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [dhash_ppm(c) for c in pdf["content"]],
                }
            )

    return media.select("media_id", "content").mapInPandas(hashes, PHASH_SCHEMA)


def noise_ppm_bytes(seed: int, width: int, height: int, perturb: int = 0) -> bytes:
    """A P6 image of deterministic per-seed pseudo-random texture (unlike
    the gradient generator, distinct seeds give uncorrelated dHashes).
    ``perturb`` overwrites a 4×4 corner block — a localized-edit / mild
    re-encode analog whose dHash moves only 1-2 bits (measured: planted
    pairs land at hamming 1-2, distinct seeds at 29-38). The seed enters
    multiplicatively with BOTH coordinates: a purely additive seed term
    would cancel out of dHash's left<right comparisons and make all
    seeds collide."""
    x = _np.arange(width, dtype=_np.uint64)[None, :]
    y = _np.arange(height, dtype=_np.uint64)[:, None]
    base = (
        (x + _np.uint64(seed * 13 + 1))
        * (y + _np.uint64(seed * 7 + 3))
        * _np.uint64(2654435761)
    ) % 251
    img = _np.stack(
        [(base + k * 17) % 251 for k in range(3)], axis=-1
    ).astype(_np.uint8)
    body = bytearray(img.tobytes())
    if perturb:
        for r in range(4):
            for c in range(4):
                for k in range(3):
                    body[(r * width + c) * 3 + k] = 200
    return f"P6\n{width} {height}\n255\n".encode() + bytes(body)


def phash_near_dup_pairs(
    sigs: DataFrame, max_hamming: int = 10, n_bands: int = 4
) -> DataFrame:
    """Banded near-dup pair mining over 64-bit perceptual hashes — the
    SimHash recipe applied to images: split each hash into ``n_bands``
    16-bit bands; only pairs agreeing on ≥1 band meet (an exact-match
    shuffle on the band value, never all-pairs); survivors take an exact
    popcount(xor) hamming filter. A true near-dup within ``max_hamming``
    bits can miss only if its flipped bits hit every band — the usual LSH
    recall trade, measured by multimodal_phash_recall_audit."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = sigs.select(
        "media_id",
        "phash",
        F.explode(
            F.array(*[F.lit(b) for b in range(n_bands)])
        ).alias("band"),
    ).select(
        "media_id",
        "phash",
        "band",
        F.expr(f"shiftrightunsigned(phash, band * {width}) & {mask}").alias(
            "band_val"
        ),
    )
    left = bands.select(
        F.col("media_id").alias("a_id"),
        F.col("phash").alias("a_hash"),
        "band",
        "band_val",
    )
    right = bands.select(
        F.col("media_id").alias("b_id"),
        F.col("phash").alias("b_hash"),
        "band",
        "band_val",
    )
    pairs = (
        left.join(right, ["band", "band_val"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_hash", "b_hash")
        .distinct()
    )
    return pairs.select(
        "a_id",
        "b_id",
        F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def synthetic_phash_media(spark) -> DataFrame:
    """Six distinct textures + three planted near-duplicates (ids 100+i are
    perturbed copies of i for i in 0..2)."""
    rows = []
    for i in range(6):
        w, h = 32 + 2 * (i % 3), 24 + 2 * (i % 2)
        rows.append((i, "image", noise_ppm_bytes(i, w, h),
                     ("image/x-portable-pixmap", f"src{i % 3}", 0)))
        if i < 3:
            rows.append((100 + i, "image", noise_ppm_bytes(i, w, h, perturb=1),
                         ("image/x-portable-pixmap", f"src{i % 3}", 0)))
    return _media_local_relation(spark, rows)


@register(
    "multimodal_phash_dedup",
    oracle=None,  # pixel decode is not SQL-expressible; the planted
    # near-dup pairs are asserted in tests/test_multimodal.py
    tags=("multimodal", "dedup"),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection end-to-end: REAL pixel decode →
    dHash in one Arrow-batched boundary, then banded candidate join +
    exact hamming filter entirely in JVM bit math. Scale: the corpus is
    hashed once (64 bits/image retained), candidates meet only on equal
    16-bit bands — the same never-all-pairs discipline as MinHash-LSH and
    SimHash over text."""
    sigs = extract_ppm_phash(synthetic_phash_media(spark))
    return phash_near_dup_pairs(sigs).orderBy("a_id", "b_id")


def synthetic_phash_audit_media(spark, n_base: int = 40, n_dups: int = 20) -> DataFrame:
    """A wider audit slice: ``n_base`` distinct textures, the first
    ``n_dups`` of them each with a perturbed near-duplicate (id 1000+i)."""
    rows = []
    for i in range(n_base):
        w, h = 32 + 2 * (i % 5), 24 + 2 * (i % 3)
        rows.append((i, "image", noise_ppm_bytes(i, w, h),
                     ("image/x-portable-pixmap", f"src{i % 3}", 0)))
        if i < n_dups:
            rows.append((1000 + i, "image", noise_ppm_bytes(i, w, h, perturb=1),
                         ("image/x-portable-pixmap", f"src{i % 3}", 0)))
    return _media_local_relation(spark, rows)


@register(
    "multimodal_phash_recall_audit",
    oracle=None,  # pixel decode is not SQL-expressible; recall is asserted
    # in tests/test_multimodal.py::test_phash_recall_audit
    tags=("multimodal", "dedup"),
)
def multimodal_phash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured banding quality for the image near-dup path — the phash
    counterpart of dedup_lsh_recall_audit (an approximation you haven't
    measured is a guess): every ground-truth pair within hamming ≤ 10
    (brute force over the bounded audit slice, broadcast nested-loop —
    never the production path) annotated with whether the 16-bit banded
    candidate join CAUGHT it. A miss is only possible when the flipped
    bits hit all four bands; the audit measures how often that actually
    happens on the planted-dup fixture. At scale the audit stays a
    sampled side-channel while production candidates remain
    band-bounded."""
    sigs = extract_ppm_phash(synthetic_phash_audit_media(spark)).persist()
    a = sigs.select(F.col("media_id").alias("a_id"), F.col("phash").alias("a_hash"))
    b = sigs.select(F.col("media_id").alias("b_id"), F.col("phash").alias("b_hash"))
    truth = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= 10)
    )
    cand = phash_near_dup_pairs(sigs, max_hamming=10).select(
        "a_id", "b_id", F.lit(1).alias("_hit")
    )
    return (
        truth.join(cand, ["a_id", "b_id"], "left")
        .select(
            "a_id", "b_id", "hamming", F.col("_hit").isNotNull().alias("caught")
        )
        .orderBy("a_id", "b_id")
    )
