"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Charter scope.  Images/audio/video travel as ``binary`` columns with a
``struct`` of metadata; compute-heavy steps (decode, resize, frame-sample,
feature-extract) run as Arrow-batched ``mapInPandas`` stages so payload
bytes move executor-side in columnar batches, never through the driver.

Kernels: the IMAGE path is REAL for PNG and baseline JPEG payloads,
the AUDIO path for PCM WAV (``functions/wav.py`` — RIFF parse, 8/16-bit,
lossless so the decode sits under the hash gate) and the VIDEO path for
YUV4MPEG2 (``functions/y4m.py`` — uncompressed planar frames: real
per-frame sampling and luma features) —
decode, pixel featurization, and nearest-neighbor resize run on the
stdlib-only codecs in ``functions/png.py`` (all five PNG scanline
filters, verified against an independent reference encoder in tests)
and ``functions/jpeg.py`` (baseline SOF0, Annex-K tables, verified
against the spec's direct cosine-sum formula) with no external library.
Other image/audio/video container formats remain fail-loud stubs behind
``fake_decode`` — the runtime has no torchaudio/codec libraries — which
either raise ``NotImplementedError`` (strict mode) or produce a
deterministic fake (test mode).  Everything Spark-side (schemas, batch
iteration, partition behavior, output contracts) is real and tested for
every modality.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Canonical multimodal record shape: payload + metadata struct.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),        # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("width", LongType()),
                    StructField("height", LongType()),
                    StructField("duration_ms", LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _png_features(arr) -> list[float]:
    """Deterministic pixel statistics for a decoded (H, W, C) uint8 image.

    Every entry is an exactly-representable integer-valued float (counts,
    sums of uint8 values, bin counts), so the vector is bit-identical
    across engines and re-runs — the property that lets the REAL decode
    path sit under the driver's hash gate (v84)::

        [w, h, c, w*h*c, sum, min, max, hist8[0..7], 0]
    """
    import numpy as np

    h, w, c = arr.shape
    flat = arr.reshape(-1)
    hist = np.bincount(flat >> 5, minlength=8)  # 8 bins of 32 values
    return [
        float(v)
        for v in (
            w, h, c, w * h * c,
            int(flat.sum(dtype=np.int64)),
            int(flat.min()), int(flat.max()),
            *(int(x) for x in hist),
            0,
        )
    ]


def _wav_features(samples, rate: int) -> list[float]:
    """Deterministic sample statistics for decoded (n, channels) int16
    PCM.  Every entry is an exactly-representable integer-valued float
    (counts, int64 sums, bin counts) so the vector is bit-identical
    across engines — the property that puts the REAL audio decode under
    the driver's hash gate (v98)::

        [channels, rate, n_samples, duration_ms, sum, min, max,
         hist8[0..7], 0]
    """
    import numpy as np

    n, channels = samples.shape
    flat = samples.reshape(-1).astype(np.int64)
    hist = np.bincount((flat + 32768) >> 13, minlength=8)  # 8 bins
    return [
        float(v)
        for v in (
            channels, rate, n, n * 1000 // rate if rate else 0,
            int(flat.sum()), int(flat.min()) if n else 0,
            int(flat.max()) if n else 0,
            *(int(x) for x in hist),
            0,
        )
    ]


def _y4m_features(frames, fps: tuple[int, int]) -> list[float]:
    """Deterministic luma statistics for decoded (n, H, W) y4m frames —
    integer-exact floats, same hash-gate property as the image/audio
    kernels (v99)::

        [width, height, n_frames, duration_ms, y_sum, y_min, y_max,
         hist8[0..7], 0]
    """
    import numpy as np

    n, h, w = frames.shape
    flat = frames.reshape(-1)
    hist = np.bincount(flat >> 5, minlength=8) if n else np.zeros(8, int)
    num, den = fps
    return [
        float(v)
        for v in (
            w, h, n, n * 1000 * den // num if num else 0,
            int(flat.sum(dtype=np.int64)),
            int(flat.min()) if flat.size else 0,
            int(flat.max()) if flat.size else 0,
            *(int(x) for x in hist),
            0,
        )
    ]


def _decode_kernel(payload: bytes, kind: str, fake: bool) -> list[float]:
    """Decode+featurize: REAL for PNG images (stdlib codec — see
    ``functions/png.py``), deterministic fake or fail-loud
    ``NotImplementedError`` for every other modality/format (the
    container has no audio/video/JPEG libraries — explicit beats
    silently wrong).
    """
    from flowbyte_spark.functions import jpeg, png, wav, y4m

    if kind == "video" and y4m.is_y4m(payload):
        try:
            return _y4m_features(*y4m.decode_y4m(payload))
        except ValueError:
            if not fake:  # corrupt y4m: fail loud in strict mode
                raise
    if kind == "audio" and wav.is_wav(payload):
        try:
            return _wav_features(*wav.decode_wav(payload))
        except ValueError:
            if not fake:  # corrupt RIFF header: fail loud in strict mode
                raise
    if kind == "image" and (png.is_png(payload) or jpeg.is_jpeg(payload)):
        try:
            codec = png.decode_png if png.is_png(payload) else jpeg.decode_jpeg
            return _png_features(codec(payload))
        except ValueError:
            # corrupt-but-signature-matching payload: fake mode keeps its
            # never-raises contract (deterministic stub below); strict
            # mode fails loud on the malformed image.
            if not fake:
                raise
    if not fake:
        raise NotImplementedError(
            f"decode of kind={kind!r} requires a media library not present "
            "in this environment (PNG/baseline-JPEG images, PCM WAV audio "
            "and y4m video decode natively); pass fake_decode=True for "
            "the deterministic stub"
        )
    digest = hashlib.sha256(kind.encode() + (payload or b"")).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def _set_arrow_batch(media: DataFrame, batch_size: int | None) -> None:
    """``batch_size`` bounds executor memory via the SESSION-wide Arrow
    max-records-per-batch conf — the conf must still be set when the
    returned lazy DataFrame executes, so it cannot be scoped inside the
    operator.  ``None`` (the default) leaves the session conf untouched;
    pass a value only when this media stage dominates the session, and
    restore/scope it externally otherwise."""
    if batch_size is not None:
        media.sparkSession.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
        )


def extract_features(
    media: DataFrame,
    batch_size: int | None = None,
    fake_decode: bool = False,
) -> DataFrame:
    """Decode + featurize media rows via ``mapInPandas``.

    Arrow moves ``batch_size`` payloads per executor batch; each batch is
    decoded in-process and reduced to a feature vector + byte stats.  The
    per-partition generator never materializes more than one batch, so
    executor memory is bounded by batch_size × max payload, independent of
    partition row count — the property that matters at 100 TB.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                    "features": [
                        _decode_kernel(p, k, fake_decode)
                        for p, k in zip(pdf["payload"], pdf["kind"])
                    ],
                }
            )
            yield out

    _set_arrow_batch(media, batch_size)
    return media.mapInPandas(run, FEATURES_SCHEMA)


def with_media_column(
    df: DataFrame,
    payload_from: str,
    kind: str = "image",
    mime: str = "application/octet-stream",
    duration_ms: int | None = None,
) -> DataFrame:
    """Wrap an existing column's bytes (e.g. utf-8 of a text column for
    tests) into the canonical media shape."""
    return df.select(
        F.monotonically_increasing_id().alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(payload_from).cast("string"), "utf-8").alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.lit(duration_ms).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def _resize_kernel(payload: bytes, width: int, height: int, fake: bool) -> bytes:
    """Decode -> nearest-neighbor resize -> re-encode: REAL for PNG
    payloads (stdlib codec).  Other image formats: ``fake=True`` derives
    a deterministic pseudo-payload from a sha256 of (payload, dims) —
    stable across runs/engines and dependent on every input, so a dropped
    or reordered row is visible; ``fake=False`` raises."""
    from flowbyte_spark.functions import jpeg, png

    if png.is_png(payload):
        try:
            return png.encode_png(
                png.resize_nearest(png.decode_png(payload), width, height)
            )
        except ValueError:
            if not fake:  # corrupt PNG: fake mode falls through to stub
                raise
    elif jpeg.is_jpeg(payload):
        try:
            return jpeg.encode_jpeg(
                png.resize_nearest(jpeg.decode_jpeg(payload), width, height)
            )
        except ValueError:
            if not fake:  # corrupt JPEG: fake mode falls through to stub
                raise
    if not fake:
        raise NotImplementedError(
            "resize of non-PNG/JPEG images requires a media library not "
            "present in this environment; pass fake_decode=True for the "
            "deterministic stub"
        )
    seed = (payload or b"") + f"|{width}x{height}".encode()
    return hashlib.sha256(seed).digest()


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    batch_size: int | None = None,
    fake_decode: bool = False,
) -> DataFrame:
    """Resize image payloads via ``mapInPandas``; audio/video rows pass
    through untouched.

    Output keeps the canonical MEDIA_SCHEMA: payload replaced, meta.width
    and meta.height set to the target dims (mime/duration preserved).
    Map-only — no shuffle; executor memory is bounded by batch_size ×
    max payload like :func:`extract_features`.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for p, k, m in zip(pdf["payload"], pdf["kind"], pdf["meta"]):
                meta = dict(m) if m is not None else {}
                if k == "image":
                    payloads.append(_resize_kernel(p, width, height, fake_decode))
                    meta["width"], meta["height"] = width, height
                else:
                    payloads.append(p)
                metas.append(meta)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "meta": metas,
                }
            )

    _set_arrow_batch(media, batch_size)
    return media.mapInPandas(run, MEDIA_SCHEMA)


FRAME_BYTES = 16

FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("ts_ms", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 16,
    batch_size: int | None = None,
    fake_decode: bool = False,
) -> DataFrame:
    """Sample one frame every ``every_ms`` from video payloads via
    ``mapInPandas`` — the one-to-many stage of the multimodal tier (one
    output row per frame, so downstream per-frame featurization reuses
    :func:`extract_features` unchanged).

    Non-video rows produce no frames.  Frame count is
    ``min(max_frames, max(1, duration_ms // every_ms))`` (unknown
    duration -> 1 frame at t=0); the decode itself is stubbed like the
    other kernels — ``fake=True`` yields FRAME_BYTES deterministic bytes
    per frame keyed by (payload, frame index).  The generator emits one
    output batch per input batch, so memory stays bounded by
    batch_size × max_frames × frame size, never partition row count.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, payloads = [], [], [], []
            for mid, k, p, m in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                if k != "video":
                    continue
                from flowbyte_spark.functions import y4m as _y4m

                if _y4m.is_y4m(p):
                    # REAL path: decode luma frames, emit the frame at
                    # each every_ms instant (by the stream's own fps) as
                    # a grayscale PNG so downstream per-frame
                    # featurization reuses the image kernel unchanged.
                    from flowbyte_spark.functions.png import encode_png

                    frames, (num, den) = _y4m.decode_y4m(p)
                    count = 0
                    while count < max_frames:
                        t_ms = count * every_ms
                        idx = t_ms * num // (1000 * den)
                        if idx >= frames.shape[0]:
                            break
                        ids.append(mid)
                        idxs.append(idx)
                        tss.append(t_ms)
                        payloads.append(
                            encode_png(frames[idx][:, :, None])
                        )
                        count += 1
                    continue
                if not fake_decode:
                    raise NotImplementedError(
                        "frame extraction for non-y4m video requires a codec "
                        "library not present in this environment; pass "
                        "fake_decode=True for the deterministic stub"
                    )
                dur = (m or {}).get("duration_ms")
                n = min(max_frames, max(1, int(dur) // every_ms)) if dur else 1
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(i * every_ms)
                    seed = (p or b"") + f"|frame{i}".encode()
                    payloads.append(
                        hashlib.sha256(seed).digest()[:FRAME_BYTES]
                    )
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "ts_ms": tss,
                    "payload": payloads,
                },
            ).astype({"media_id": "int64", "frame_idx": "int64", "ts_ms": "int64"})

    _set_arrow_batch(media, batch_size)
    return media.mapInPandas(run, FRAMES_SCHEMA)
