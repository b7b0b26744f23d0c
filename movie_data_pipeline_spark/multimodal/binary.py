"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The contract for image/audio/video at 100 TB: the payload is an opaque
``binary`` column; decode/feature-extraction runs as Arrow-batched
``mapInPandas`` (one Python worker per partition, whole-column batches —
never a row-at-a-time UDF); metadata travels in typed columns next to
the blob so filters/pruning stay JVM-side.

The actual codecs (PIL/ffmpeg/librosa) are NOT in this container, so
``decode_image``/``sample_frames`` take an injected ``decoder``/
``sampler`` callable (default ``None`` raises NotImplementedError with
the integration point documented); everything Spark-side — schema,
batching, partitioning, UDF signatures, deterministic feature math — is
real and exercised in tests through deterministic fake codecs.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from movie_data_pipeline_spark.operators.util import spread

BLOB_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("modality", StringType()),
        StructField("content", BinaryType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("byte_mean", DoubleType()),
        StructField("byte_entropy", DoubleType()),
    ]
)


def make_blob_table(df: DataFrame) -> DataFrame:
    """Wrap a documents frame's ``text`` as an opaque-blob table keyed
    by ``doc_id`` (UTF-8 encoded; image/audio ingestion would land
    bytes here unchanged)."""
    content = F.encode(F.col("text"), "UTF-8")
    return df.select(
        F.col("doc_id").alias("blob_id"),
        F.lit("text").alias("modality"),
        content.alias("content"),
        F.lit("text/plain").alias("media_type"),
        F.octet_length(content).cast("long").alias("n_bytes"),
    )


def blob_features(blobs: DataFrame) -> DataFrame:
    """Deterministic per-blob features via Arrow-batched mapInPandas:
    size, md5 digest, byte mean, byte entropy.

    This is the real scale plumbing a decoder would use — same
    signature, same batch shape; only the inner numpy math would become
    a codec call. No shuffle: map-only over the blob partitions.
    """

    def extract(batches: Iterator) -> Iterator:
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                buf = bytes(r.content)
                arr = np.frombuffer(buf, dtype=np.uint8)
                if arr.size:
                    counts = np.bincount(arr, minlength=256)
                    p = counts[counts > 0] / arr.size
                    entropy = float(-(p * np.log2(p)).sum())
                    mean = float(arr.mean())
                else:
                    entropy, mean = 0.0, 0.0
                out.append(
                    {
                        "blob_id": r.blob_id,
                        "n_bytes": len(buf),
                        "digest": hashlib.md5(buf).hexdigest(),
                        "byte_mean": mean,
                        "byte_entropy": entropy,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return spread(blobs).mapInPandas(extract, schema=FEATURE_SCHEMA)


DECODED_IMAGE_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("pixels", ArrayType(FloatType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_ts", DoubleType()),
        StructField("frame", BinaryType()),
    ]
)


def decode_image(blobs: DataFrame, decoder=None) -> DataFrame:
    """Image decode/resize to 224x224 float arrays — codec injected.

    ``decoder(payload: bytes, target_size) -> (height, width,
    list[float])`` is the only codec-specific piece; everything
    Spark-side (Arrow-batched mapInPandas, output schema, map-only
    no-shuffle plan) is real and runs in tests via a deterministic fake
    decoder. The container ships no image codecs, so the default
    ``decoder=None`` raises with the integration point documented —
    wire PIL/turbojpeg here in a real deployment.
    """
    if decoder is None:
        raise NotImplementedError(
            "image codecs are not available in this environment; pass "
            "decoder= (e.g. PIL-based) into the mapInPandas plumbing "
            "(multimodal/binary.py)"
        )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                h, w, px = decoder(bytes(r.content), (224, 224))
                out.append(
                    {"blob_id": r.blob_id, "height": h, "width": w, "pixels": px}
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in DECODED_IMAGE_SCHEMA.fields]
            )

    return spread(blobs).mapInPandas(run, schema=DECODED_IMAGE_SCHEMA)


def sample_frames(
    blobs: DataFrame,
    every_n_seconds: float = 1.0,
    sampler=None,
) -> DataFrame:
    """Video frame sampling (one row per sampled frame) — codec injected.

    ``sampler(payload: bytes, every_n_seconds) -> iterable[(frame_idx,
    frame_ts, frame_bytes)]`` is the codec hook (ffmpeg/pyav in a real
    deployment); the Spark side explodes each video blob into frame rows
    inside mapInPandas, keeping partitioning by blob so one worker
    decodes one video at a time. Default ``sampler=None`` raises: no
    video codecs ship in this container.
    """
    if sampler is None:
        raise NotImplementedError(
            "video codecs are not available in this environment; pass "
            "sampler= — the frame sampler plugs into the mapInPandas "
            "pattern (multimodal/binary.py)"
        )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                for idx, ts, frame in sampler(bytes(r.content), every_n_seconds):
                    out.append(
                        {
                            "blob_id": r.blob_id,
                            "frame_idx": idx,
                            "frame_ts": ts,
                            "frame": frame,
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA.fields])

    return spread(blobs).mapInPandas(run, schema=FRAME_SCHEMA)


IMAGE_HEADER_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("img_format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def _be_u32(col: "F.Column", pos: int) -> "F.Column":
    """Big-endian uint32 at 1-based byte offset ``pos`` of a binary
    column — hex-slice + base conversion, all JVM codegen."""
    return F.conv(F.hex(F.substring(col, pos, 4)), 16, 10).cast("long")


def _le_u16(col: "F.Column", pos: int) -> "F.Column":
    b0 = F.conv(F.hex(F.substring(col, pos, 1)), 16, 10).cast("long")
    b1 = F.conv(F.hex(F.substring(col, pos + 1, 1)), 16, 10).cast("long")
    return b0 + b1 * 256


def _le_u32(col: "F.Column", pos: int) -> "F.Column":
    b = [
        F.conv(F.hex(F.substring(col, pos + i, 1)), 16, 10).cast("long")
        for i in range(4)
    ]
    return b[0] + b[1] * 256 + b[2] * 65536 + b[3] * 16777216


def _le_i32(col: "F.Column", pos: int) -> "F.Column":
    raw = _le_u32(col, pos)
    # BMP height may be negative (top-down DIB): two's complement
    return F.when(raw >= F.lit(1 << 31), raw - F.lit(1 << 32)).otherwise(raw)


def image_header_expr(content: "F.Column") -> "F.Column":
    """(format, width, height) struct parsed from fixed-offset image
    headers — PNG / GIF / BMP — as pure JVM expressions (hex-slice
    arithmetic inside whole-stage codegen; no Python worker, no image
    library). JPEG needs a variable-offset segment walk → see
    ``image_dimensions`` for the Arrow-batched fallback; unknown
    formats yield a null struct.

    This is the 100 TB metadata-extraction contract in action: width/
    height/format land in typed columns straight off the scan, so size
    filters (``width >= 256``) prune BEFORE any decoder ever runs —
    scan + filter never leave the JVM.
    """
    magic8 = F.hex(F.substring(content, 1, 8))
    png = magic8 == "89504E470D0A1A0A"
    gif = F.substring(content, 1, 4).cast("string").isin("GIF8")
    # 'BM' alone is a weak 2-byte magic — also require a known
    # BITMAPINFOHEADER-family DIB size (the u32 at offset 15) before
    # trusting the 4-byte dims at 19/23. OS/2 BITMAPCOREHEADER (size
    # 12, u16 dims at different offsets) and 'BM'-prefixed non-bitmaps
    # fall through to the null struct instead of parsing garbage.
    bmp = (F.substring(content, 1, 2).cast("string") == "BM") & (
        _le_u32(content, 15).isin(40, 52, 56, 108, 124)
    )
    return (
        F.when(
            png,
            F.struct(
                F.lit("png").alias("img_format"),
                _be_u32(content, 17).cast("int").alias("width"),
                _be_u32(content, 21).cast("int").alias("height"),
            ),
        )
        .when(
            gif,
            F.struct(
                F.lit("gif").alias("img_format"),
                _le_u16(content, 7).cast("int").alias("width"),
                _le_u16(content, 9).cast("int").alias("height"),
            ),
        )
        .when(
            bmp,
            F.struct(
                F.lit("bmp").alias("img_format"),
                _le_i32(content, 19).cast("int").alias("width"),
                F.abs(_le_i32(content, 23)).cast("int").alias("height"),
            ),
        )
        .otherwise(
            F.struct(
                F.lit(None).cast("string").alias("img_format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
            )
        )
    )


def _jpeg_dimensions(b: bytes) -> tuple[int, int] | None:
    """Pure-stdlib JPEG SOF segment walk (no image library): scan
    marker segments until a start-of-frame carries the dimensions."""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    i = 2
    while i + 9 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:  # standalone
            i += 2
            continue
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if seg_len < 2:
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            height = int.from_bytes(b[i + 5 : i + 7], "big")
            width = int.from_bytes(b[i + 7 : i + 9], "big")
            return (width, height)
        i += 2 + seg_len
    return None


def image_dimensions(blobs: DataFrame) -> DataFrame:
    """(blob_id, img_format, width, height) for every blob: PNG/GIF/BMP
    resolve via the codegen header expressions; JPEGs take one
    Arrow-batched ``mapInPandas`` pass over only the rows the JVM path
    could not classify (the variable-offset SOF walk needs imperative
    code, but still zero external libraries). Unknown payloads keep
    null dimensions.

    Scale: the expression path touches only the first ~26 bytes of each
    blob inside codegen; the Python fallback sees just the JPEG subset
    and ships (id, content) — never the already-parsed rows.
    """
    parsed = blobs.select(
        "blob_id", "content", image_header_expr(F.col("content")).alias("h")
    )
    fixed = parsed.filter(F.col("h.img_format").isNotNull()).select(
        "blob_id",
        F.col("h.img_format").alias("img_format"),
        F.col("h.width").alias("width"),
        F.col("h.height").alias("height"),
    )
    rest = parsed.filter(F.col("h.img_format").isNull())
    # Only JPEG candidates (SOI magic FF D8) ship to the Python walker —
    # a multi-GB video/text/audio payload must never cross the Arrow
    # boundary just to be declared not-a-JPEG. Everything else resolves
    # to a null struct JVM-side.
    is_jpeg = F.hex(F.substring(F.col("content"), 1, 2)) == "FFD8"
    jpeg_cand = rest.filter(is_jpeg).select("blob_id", "content")
    unknown = rest.filter(~is_jpeg | F.col("content").isNull()).select(
        "blob_id",
        F.lit(None).cast("string").alias("img_format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )

    def walk(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                # NULL payloads must yield null dims, not kill the stage
                dims = (
                    _jpeg_dimensions(bytes(r.content))
                    if r.content is not None
                    else None
                )
                out.append(
                    {
                        "blob_id": r.blob_id,
                        "img_format": "jpeg" if dims else None,
                        "width": dims[0] if dims else None,
                        "height": dims[1] if dims else None,
                    }
                )
            yield pd.DataFrame(
                out, columns=["blob_id", "img_format", "width", "height"]
            )

    jpegs = jpeg_cand.mapInPandas(walk, schema=IMAGE_HEADER_SCHEMA)
    return fixed.unionByName(jpegs).unionByName(unknown)


AUDIO_HEADER_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("audio_format", StringType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("duration_sec", DoubleType()),
    ]
)


def wav_header_expr(content: "F.Column") -> "F.Column":
    """(audio_format, n_channels, sample_rate, bits_per_sample,
    duration_sec) struct from a canonical RIFF/WAVE header — the audio
    counterpart of ``image_header_expr``, all hex-slice codegen, no
    audio library.

    Canonical layout assumed (fmt chunk at offset 12, data chunk
    immediately after a 16-byte PCM fmt body, i.e. data size at byte
    offset 40): the overwhelmingly common case for PCM WAV. Files with
    extension chunks land a null struct and belong to an mapInPandas
    chunk-walker (same split as JPEG vs PNG). Duration is exact
    integer arithmetic over data bytes / (rate * channels * bits/8) in
    doubles.

    Why it matters at 100 TB: audio curation filters (sample_rate >=
    16000, duration bounds, mono/stereo routing) run on these typed
    columns at the scan — hours of audio are pruned without a decoder
    ever touching the payload.
    """
    is_wav = (
        (F.substring(content, 1, 4).cast("string") == "RIFF")
        & (F.substring(content, 9, 4).cast("string") == "WAVE")
        & (F.substring(content, 13, 4).cast("string") == "fmt ")
        & (_le_u32(content, 17) == 16)  # 16-byte fmt body, no extension
        & (_le_u16(content, 21) == 1)  # wFormatTag 1 = integer PCM only
        & (F.substring(content, 37, 4).cast("string") == "data")
    )
    channels = _le_u16(content, 23).cast("int")
    rate = _le_u32(content, 25).cast("int")
    bits = _le_u16(content, 35).cast("int")
    # Streaming writers leave a placeholder data size (often
    # 0xFFFFFFFF) and downloads truncate — never trust the header's
    # claim past the bytes actually present (payload starts at 45,
    # 1-based, for this canonical layout).
    data_bytes = F.least(
        _le_u32(content, 41),
        F.greatest(F.octet_length(content).cast("long") - 44, F.lit(0)),
    )
    bytes_per_sec = (
        rate.cast("long") * channels.cast("long") * (bits.cast("long") / 8)
    )
    duration = F.when(
        bytes_per_sec > 0, data_bytes.cast("double") / bytes_per_sec
    )
    return F.when(
        is_wav,
        F.struct(
            F.lit("wav-pcm").alias("audio_format"),
            channels.alias("n_channels"),
            rate.alias("sample_rate"),
            bits.alias("bits_per_sample"),
            duration.alias("duration_sec"),
        ),
    ).otherwise(
        F.struct(
            F.lit(None).cast("string").alias("audio_format"),
            F.lit(None).cast("int").alias("n_channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("bits_per_sample"),
            F.lit(None).cast("double").alias("duration_sec"),
        )
    )
