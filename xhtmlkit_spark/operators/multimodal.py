"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata —
the Spark-side machinery (schemas, Arrow batching on the
``run_row_stage`` kernel, partition shape) is real and tested; the
actual codec work is STUBBED because no image/audio library exists in
this container:

* :func:`decode_media` raises ``NotImplementedError`` unless a
  decoder is injected — the marked seam for pillow/libav in prod.
* :func:`fake_fetch_media` / the feature extractor use a
  deterministic md5-driven byte generator so tests exercise the full
  distributed path with verifiable values.

Pattern notes for 100 TB: media bytes ride in their own table keyed by
media_ref (never inline with text spans — they'd destroy scan locality
for text-only queries); feature extraction is a row function over
Arrow-sized batches with binary columns, bounded by
``maxRecordsPerBatch`` to keep worker memory flat.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from xhtmlkit_spark.operators.extract_stage import run_row_stage

__all__ = [
    "MEDIA_META_SCHEMA",
    "fake_fetch_media",
    "decode_media",
    "frame_sample_stage",
    "media_feature_stage",
    "resize_stage",
]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

_FEATURE_DIM = 16


def fake_fetch_media(media_ref: str, n_bytes: int = 4096) -> bytes:
    """Deterministic stand-in for object-store fetch: a PCG64 byte
    stream seeded from md5(ref) — same ref → same payload everywhere.
    (A chained-md5 keystream did the same job ~15x slower: 256 Python
    hash calls per 4 KB payload.)"""
    import numpy as np

    seed = int.from_bytes(hashlib.md5(media_ref.encode()).digest(), "big")
    return np.random.Generator(np.random.PCG64(seed)).bytes(n_bytes)


def decode_media(payload: bytes, media_type: str, decoder=None):
    """Decode a media payload. STUB: the container ships no codec libs;
    inject ``decoder(payload, media_type)`` in prod (pillow/libav)."""
    if decoder is not None:
        return decoder(payload, media_type)
    raise NotImplementedError(
        "media decoding requires a codec library not present in this "
        "environment; inject `decoder=` (see module docstring)"
    )


def _features(media_ref, media_type, payload, n_bytes):
    """Deterministic fake 'embedding': 16-bin byte histogram,
    L1-normalized — numerically checkable end-to-end without a codec."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=_FEATURE_DIM).astype("float64")
    total = hist.sum() or 1.0
    return [(media_ref, media_type, n_bytes, (hist / total).round(6).tolist())]


_FEATURE_OUT = (
    ("media_ref", T.StringType()),
    ("media_type", T.StringType()),
    ("n_bytes", T.LongType()),
    ("features", T.ArrayType(T.DoubleType())),
)


def media_feature_stage(media_df: DataFrame) -> DataFrame:
    """Feature extraction over a MEDIA_META_SCHEMA frame, one row per
    media row, on the run_row_stage kernel."""
    cols = ["media_ref", "media_type", "payload", "n_bytes"]
    return run_row_stage(media_df, cols, _features, _FEATURE_OUT)


_FRAME_OUT = (
    ("media_ref", T.StringType()),
    ("frame_idx", T.IntegerType()),
    ("frame_offset", T.LongType()),
    ("frame", T.BinaryType()),
    ("n_frame_bytes", T.LongType()),
)


def frame_sample_stage(
    media_df: DataFrame, n_frames: int = 4, frame_bytes: int = 256
) -> DataFrame:
    """Video frame sampling as a 1→N fan-out on the run_row_stage kernel.

    Real decode needs libav (the :func:`decode_media` seam); the
    DISTRIBUTED SHAPE is the point and is fully real: each video row
    fans out into ``n_frames`` evenly spaced frame rows (deterministic
    byte-slice stand-ins for decoded frames), images pass through as a
    single frame, audio contributes none. Frame rows are keyed
    (media_ref, frame_idx) so downstream per-frame featurization joins/
    groups exactly as it would with real decoded frames. Batch-shape
    note for 100 TB: output rows ≈ n_frames × input rows — bound
    ``maxRecordsPerBatch`` on the INPUT side so the fan-out stays
    within worker memory.
    """

    def frames(ref, mtype, payload):
        if mtype == "image":
            return [(ref, 0, 0, payload, len(payload))]
        if mtype != "video":
            return []
        span = max(len(payload) - frame_bytes, 0)
        rows = []
        for i in range(n_frames):
            off = (span * i) // max(n_frames - 1, 1)
            chunk = payload[off : off + frame_bytes]
            rows.append((ref, i, off, chunk, len(chunk)))
        return rows

    return run_row_stage(
        media_df, ["media_ref", "media_type", "payload"], frames, _FRAME_OUT
    )


_RESIZED_OUT = (
    ("media_ref", T.StringType()),
    ("media_type", T.StringType()),
    ("payload", T.BinaryType()),
    ("n_bytes", T.LongType()),
    ("orig_bytes", T.LongType()),
)


def resize_stage(
    media_df: DataFrame, target_bytes: int = 1024, resizer=None
) -> DataFrame:
    """Image resize as a row transform on the run_row_stage kernel (the
    brief's decode→resize step).

    Real resizing needs a codec (inject ``resizer(payload, media_type,
    target_bytes) -> bytes`` — pillow in prod, same seam discipline as
    :func:`decode_media`); the default stand-in byte-subsamples the
    payload to ``target_bytes`` with an even deterministic stride, so
    the distributed shape (schema, batching, size accounting) is fully
    exercised and output sizes are exactly verifiable. Non-image rows
    pass through untouched — resize is an image transform.
    """

    def default_resizer(payload: bytes, media_type: str, target: int) -> bytes:
        n = len(payload)
        if n <= target:
            return payload
        # even deterministic stride; exact target length
        return bytes(payload[(i * n) // target] for i in range(target))

    fn = resizer or default_resizer

    def resize(ref, mtype, payload):
        out = fn(payload, mtype, target_bytes) if mtype == "image" else payload
        return [(ref, mtype, out, len(out), len(payload))]

    # only the columns resize() reads — n_bytes is recomputed for the
    # output, so requiring it on input would be a dead Arrow column
    return run_row_stage(
        media_df, ["media_ref", "media_type", "payload"], resize, _RESIZED_OUT
    )


def media_table_from_refs(refs_df: DataFrame, n_bytes: int = 4096) -> DataFrame:
    """Materialize a media table (fake payloads) from a media_ref column —
    the sandbox stand-in for the object-store fetch stage. Stays
    Arrow-batched on the run_row_stage kernel; the ref→type rule is
    suffix-based."""

    def fetch(ref):
        payload = fake_fetch_media(ref, n_bytes)
        mtype = (
            "video" if ref.endswith((".mp4", ".webm")) else
            "audio" if ref.endswith((".mp3", ".wav")) else "image"
        )
        return [(ref, mtype, payload, len(payload))]

    out = tuple((f.name, f.dataType) for f in MEDIA_META_SCHEMA)
    return run_row_stage(refs_df.select("media_ref").distinct(), ["media_ref"], fetch, out)
