"""Multimodal columns: image/audio/video as opaque binary + typed
metadata.

Media payloads are ``binary`` columns with a typed metadata struct
(mime, width/height or duration, codec). Real decode libraries are not
in this container, so the decode kernels are deterministic fakes behind
``_decode_image_stub`` / ``_decode_audio_stub`` (clearly marked) — the
Spark-side plumbing is real: schemas, Arrow batch shapes, mapInPandas
signatures, partition behavior, and the feature-extraction join path
are exactly what a production decode would use; swapping the stub for
PIL/ffmpeg changes one function.

Scale notes: decode is shuffle-free mapInPandas over the media table;
``spark.sql.files.maxPartitionBytes`` bounds the bytes per task, and
binary payloads never enter a shuffle — features (small fixed-width
vectors) do.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("mime", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("payload", BinaryType(), False),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("mime", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("feature", ArrayType(FloatType(), False), False),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_payload", BinaryType(), False),
    ]
)

FEATURE_DIM = 16


def synthesize_media(
    spark: SparkSession, media_refs: DataFrame, *, ref_col: str = "media_ref"
) -> DataFrame:
    """Deterministic fake media table for the refs in a corpus: payload
    bytes derive from sha256 of the ref (stable across runs), metadata
    alternates image/audio by hash parity."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for ref in pdf[ref_col]:
                h = hashlib.sha256(ref.encode()).digest()
                is_img = h[0] % 2 == 0
                payload = (h * ((h[1] % 7) + 2))[: 64 + h[2]]
                out["media_ref"].append(ref)
                out["mime"].append("image/fake" if is_img else "audio/fake")
                out["width"].append(16 + h[3] % 64 if is_img else None)
                out["height"].append(16 + h[4] % 64 if is_img else None)
                out["duration_ms"].append(None if is_img else 1000 + h[5] * 10)
                out["payload"].append(payload)
            yield pd.DataFrame(out)

    return media_refs.select(ref_col).distinct().mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def _decode_image_stub(payload: bytes) -> List[float]:
    """STUB decode: a real implementation would PIL-open ``payload`` and
    produce pixel statistics / an embedding. The fake is deterministic
    in the payload bytes so tests can assert exact values."""
    h = hashlib.sha256(payload).digest()
    return [
        struct.unpack("<H", h[2 * i: 2 * i + 2])[0] / 65535.0
        for i in range(FEATURE_DIM)
    ]


def _decode_audio_stub(payload: bytes) -> List[float]:
    """STUB decode: a real implementation would ffmpeg-decode and
    compute spectral features."""
    h = hashlib.sha256(b"audio:" + payload).digest()
    return [
        struct.unpack("<H", h[2 * i: 2 * i + 2])[0] / 65535.0
        for i in range(FEATURE_DIM)
    ]


def _decode_image_pil(payload: bytes) -> List[float]:
    """Real image decode (optional dependency): PIL-open the payload,
    grayscale, resize to 4x4 and emit the 16 normalized pixel means —
    an aHash-style perceptual feature with the same shape/range as the
    stub, so swapping decoders changes values, never schema. Raises
    ImportError when PIL is absent (callers gate on it) and lets
    decode errors propagate (a corrupt image in a real corpus should
    fail loudly, not silently hash bytes)."""
    import io

    from PIL import Image  # optional dep; import checked per-executor

    side = int(FEATURE_DIM ** 0.5)
    img = Image.open(io.BytesIO(payload)).convert("L").resize((side, side))
    return [v / 255.0 for v in img.getdata()][:FEATURE_DIM]


def _pil_importable() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def extract_media_features(media: DataFrame, *, decode: str = "auto") -> DataFrame:
    """media table -> (media_ref, mime, n_bytes, feature[16]).

    Arrow-batched; payload bytes stay within the task (never shuffled);
    output features are fixed-width floats.

    ``decode``: 'stub' uses the deterministic byte-hash fakes; 'pil'
    uses the real PIL aHash features for images — the driver check
    fails fast when Pillow is missing locally, and a missing executor
    install still raises loudly per task (executors commonly run a
    different shipped environment than the driver). 'auto' (default)
    resolves ON EACH EXECUTOR: PIL if importable in the worker
    environment, else the stub — a driver-only install cannot crash
    the job, and the sandbox default stays the stub. NOTE 'auto'
    makes feature VALUES environment-dependent (installing Pillow
    between runs changes them for the same corpus); pin decode='stub'
    or 'pil' explicitly where resume fingerprints must be stable.
    Audio always uses the stub (no audio decoder dependency is wired)."""
    if decode not in ("auto", "stub", "pil"):
        raise ValueError("decode must be 'auto', 'stub', or 'pil'")
    if decode == "pil" and not _pil_importable():
        raise ImportError(
            "decode='pil' requires Pillow (pip install Pillow); "
            "use decode='stub' or 'auto' without it"
        )
    mode = decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if mode == "pil":
            img_decode = _decode_image_pil  # missing on executor: loud
        elif mode == "auto":
            img_decode = (_decode_image_pil if _pil_importable()
                          else _decode_image_stub)
        else:
            img_decode = _decode_image_stub
        for pdf in batches:
            feats = []
            for mime, payload in zip(pdf["mime"], pdf["payload"]):
                b = bytes(payload)
                if mime.startswith("image/"):
                    feats.append(img_decode(b))
                else:
                    feats.append(_decode_audio_stub(b))
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, *, every_ms: int = 1000) -> DataFrame:
    """Video/audio frame sampling plumbing: one output row per sampled
    frame (UDTF-shaped 1->N). The frame payload is a deterministic
    slice of the media payload — a real implementation would seek and
    decode at each timestamp."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in FRAME_SCHEMA.fields}
            for ref, dur, payload in zip(
                pdf["media_ref"], pdf["duration_ms"], pdf["payload"]
            ):
                if pd.isna(dur):
                    continue
                b = bytes(payload)
                n_frames = max(1, int(dur) // every_ms)
                for i in range(min(n_frames, 32)):
                    lo = (i * 7) % max(len(b) - 8, 1)
                    out["media_ref"].append(ref)
                    out["frame_idx"].append(i)
                    out["frame_payload"].append(b[lo: lo + 8])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def media_near_dup_pairs(
    media: DataFrame,
    *,
    every_ms: int = 1000,
    threshold: float = 0.5,
    max_frame_freq: int = 10000,
) -> DataFrame:
    """Near-duplicate media by frame-hash Jaccard: sample frames
    (1->N), fingerprint each frame JVM-side (sha2 over the frame
    bytes — only the 64-hex digest ever shuffles, payloads stay in
    their task), then ``dedup.set_jaccard_pairs`` — the inverted-index
    join on digest that ngram_jaccard_pairs runs over shingles.
    Returns (ref_a, ref_b, jaccard_sim), ref_a < ref_b.

    Digests appearing in more than ``max_frame_freq`` media are dropped
    BEFORE both the self-join and the size counts (the same guard as
    ``ngram_jaccard_pairs.max_shingle_freq``): a ubiquitous frame —
    solid black, a network-logo bumper — shared by k videos would
    otherwise put all k in one digest bucket and emit k^2/2 join rows.
    Sizes must come from the same filtered frame set as the
    intersection or jaccard_sim is underestimated.

    A real decoder would emit perceptual frame hashes (pHash) instead
    of byte digests; the join/aggregation shape is identical."""
    from ..cache import pin
    from .dedup import set_jaccard_pairs

    frames = sample_frames(media, every_ms=every_ms)
    # Four consumers reference the fingerprint frame (both sizes joins
    # + both self-join sides + the frequency agg): pin it, or the
    # decode+hash+distinct subtree re-executes per reference.
    # Registered with the cache registry — release_pins() reclaims it
    # in long-lived sessions.
    fp_all = pin(frames.select(
        F.col("media_ref").alias("_id"),
        F.sha2(F.col("frame_payload"), 256).alias("_e"),
    ).distinct())
    return set_jaccard_pairs(fp_all, threshold, max_frame_freq).select(
        F.col("id_a").alias("ref_a"), F.col("id_b").alias("ref_b"),
        "jaccard_sim")


def media_dedup_exact(media: DataFrame) -> DataFrame:
    """Exact media dedup by payload hash — JVM-side sha2 over binary,
    one survivor per digest (smallest media_ref)."""
    from pyspark.sql import Window

    w = Window.partitionBy("_digest").orderBy("media_ref")
    return (
        media.withColumn("_digest", F.sha2(F.col("payload"), 256))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_digest")
    )
