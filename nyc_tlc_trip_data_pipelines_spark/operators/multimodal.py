"""Multimodal (image/audio/video) column plumbing (north star).

Media are opaque ``binary`` columns plus typed metadata columns —
the standard lakehouse pattern (parquet stores the bytes; Spark never
interprets them until an explicit decode step). Decode/feature-extract
run as Arrow-batched ``mapInPandas`` / pandas UDFs so bytes cross the
JVM↔Python boundary once per batch, not per row.

Decode status by modality (round 4/5): **audio, image AND video decode
are REAL** — RIFF/WAVE parsed with stdlib ``wave`` (``decode_wav``),
24-bit BMP parsed from the raw header + pixel rows with numpy
(``decode_bmp``), and YUV4MPEG2 video parsed from the plain-text header
+ raw planar 4:2:0 frames (``decode_y4m``), all oracle-checked
end-to-end against closed-form fixture formulas. Real transforms:
BMP box downsample (``resize_bmp``), WAV decimation (``resample_wav``),
per-frame luma sampling (``sample_y4m_frames``), 8-dim image
descriptors (``extract_image_features``). The round-1 ``*_stub``
kernels over fake bytes were deleted in round 5 — every shipped API
path decodes a real container format. Codecs that genuinely need
external libs (JPEG/PNG/MP4/H.264) follow the same shape: swap the
inner per-payload kernel, keep the mapInPandas plumbing.

100 TB notes: binary payloads dominate partition sizing — set
``maxRecordsPerFile`` / ``files.maxPartitionBytes`` by payload size, not
row count; never groupBy/shuffle raw bytes (extract features first, then
drop the payload column before any wide transform).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

# ---------------------------------------------------------------------------
# REAL decoders (round 2): formats the standard library can decode.
#
# PIL/librosa/ffmpeg are not in this container, but WAV is decodable with
# stdlib `wave` and 24-bit BMP is a fixed-layout header + raw pixel rows
# (numpy). These kernels are NOT stubs: the payloads are real encoded
# files, the decoders parse the actual format, and — because the
# fixture generator writes samples/pixels from a closed-form integer
# formula — the decoded statistics are provable in plain SQL, so the
# decode round-trip is oracle-checked end to end. Video decode is real
# too since round 4 (YUV4MPEG2 — plain-text header + raw planar 4:2:0).
# ---------------------------------------------------------------------------


def _wav_samples(media_id: int, n: int) -> list[int]:
    """Closed-form deterministic 16-bit PCM samples (the SQL-provable
    fixture formula): s_j = (id*7919 + j*31) % 65536 - 32768."""
    return [((media_id * 7919 + j * 31) % 65536) - 32768 for j in range(n)]


def encode_wav(samples: list[int], rate: int = 8000) -> bytes:
    """PCM 16-bit mono RIFF/WAVE encode — the ONE copy of the fixture
    encoding parameters; tests build their hand-crafted clips through
    this too, so a format change cannot silently diverge between the
    operator fixtures and the tests."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def make_wav_media(spark, n: int = 48) -> DataFrame:
    """Real RIFF/WAVE payloads (PCM 16-bit mono, 8 kHz) with
    formula-generated samples; n_samples varies per id."""
    rows = []
    for i in range(n):
        n_samples = 400 + (i % 5) * 100
        payload = encode_wav(_wav_samples(i, n_samples))
        rows.append((i, "audio", payload, "audio/wav", None, None, n_samples * 1000 // 8000))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_wav(payload: bytes) -> tuple[int, int, float, int]:
    """REAL decode: parse the RIFF container with stdlib `wave`, return
    (n_samples, sample_rate, rms, peak). Integer squares sum exactly in
    float64 (n·32768² ≪ 2⁵³), so rms is bit-stable."""
    import io
    import math
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        assert w.getsampwidth() == 2 and w.getnchannels() == 1
        rate = w.getframerate()
        nf = w.getnframes()
        samples = struct.unpack(f"<{nf}h", w.readframes(nf))
    sq = 0.0
    peak = 0
    for s in samples:
        sq += float(s) * s
        peak = max(peak, abs(s))
    return nf, rate, round(math.sqrt(sq / max(nf, 1)), 6), peak


AUDIO_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("peak", IntegerType()),
    ]
)


def decode_audio_features(df: DataFrame) -> DataFrame:
    """WAV feature extraction via Arrow-batched ``mapInPandas`` — bytes
    cross to Python once per batch; the payload never survives the map."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [decode_wav(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": pd.Series([o[0] for o in out], dtype="int32"),
                    "sample_rate": pd.Series([o[1] for o in out], dtype="int32"),
                    "rms": [o[2] for o in out],
                    "peak": pd.Series([o[3] for o in out], dtype="int32"),
                }
            )

    return df.mapInPandas(_decode, AUDIO_DECODE_SCHEMA)


_BMP_W, _BMP_H = 16, 12


def _bmp_pixel(media_id: int, x: int, y: int) -> tuple[int, int, int]:
    """Closed-form (r, g, b) fixture formula — SQL-provable."""
    r = (media_id * 7 + x * 5 + y * 17) % 256
    g = (media_id * 5 + x * 13 + y * 3) % 256
    b = (media_id * 3 + x * 7 + y * 11) % 256
    return r, g, b


def make_bmp_media(spark, n: int = 48) -> DataFrame:
    """Real 24-bit BMP payloads (BITMAPINFOHEADER, bottom-up rows,
    4-byte row padding) with formula-generated pixels."""
    import struct

    rows = []
    w, h = _BMP_W, _BMP_H
    row_bytes = (w * 3 + 3) // 4 * 4
    for i in range(n):
        pixels = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up storage order
            for x in range(w):
                r, g, b = _bmp_pixel(i, x, y)
                pixels += bytes((b, g, r))  # BGR on disk
            pixels += b"\x00" * (row_bytes - w * 3)
        img_size = len(pixels)
        header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54) + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
        )
        rows.append((i, "image", bytes(header) + bytes(pixels), "image/bmp", w, h, None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


IMAGE_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def decode_bmp(payload: bytes) -> tuple[int, int, float, float, float]:
    """REAL decode: parse the BMP header (data offset, dims, bpp) and the
    padded bottom-up BGR rows with numpy (see ``_bmp_array``); returns
    (width, height, mean_r, mean_g, mean_b). Integer pixel sums are
    exact in float64."""
    import numpy as np

    arr = _bmp_array(payload)
    means = arr.astype(np.float64).mean(axis=(0, 1))  # (b, g, r)
    return (
        arr.shape[1],
        arr.shape[0],
        round(float(means[2]), 6),
        round(float(means[1]), 6),
        round(float(means[0]), 6),
    )


def decode_image_features(df: DataFrame) -> DataFrame:
    """BMP feature extraction via Arrow-batched ``mapInPandas``."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [decode_bmp(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series([o[0] for o in out], dtype="int32"),
                    "height": pd.Series([o[1] for o in out], dtype="int32"),
                    "mean_r": [o[2] for o in out],
                    "mean_g": [o[3] for o in out],
                    "mean_b": [o[4] for o in out],
                }
            )

    return df.mapInPandas(_decode, IMAGE_DECODE_SCHEMA)


def _bmp_array(payload: bytes):
    """Parse a 24-bit BMP into a top-down (h, w, 3) BGR uint8 array."""
    import struct

    import numpy as np

    assert payload[:2] == b"BM"
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    assert struct.unpack_from("<H", payload, 28)[0] == 24
    row_bytes = (w * 3 + 3) // 4 * 4
    arr = np.frombuffer(payload, dtype=np.uint8, count=abs(h) * row_bytes, offset=data_off)
    arr = arr.reshape(abs(h), row_bytes)[:, : w * 3].reshape(abs(h), w, 3)
    return arr[::-1] if h > 0 else arr


def _encode_bmp(arr) -> bytes:
    """Encode a top-down (h, w, 3) BGR uint8 array as a 24-bit BMP
    (bottom-up rows, 4-byte padding) — the exact inverse of _bmp_array."""
    import struct

    h, w = arr.shape[0], arr.shape[1]
    row_bytes = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (row_bytes - w * 3)
    body = b"".join(arr[y].tobytes() + pad for y in range(h - 1, -1, -1))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + body


def resize_bmp(payload: bytes, factor: int = 2) -> bytes:
    """REAL resize: integer-factor box downsample of a 24-bit BMP —
    each output pixel is the floor-mean of its factor×factor block
    (exact integer arithmetic, so the result is SQL-provable) — then
    re-encoded as a valid BMP."""
    import numpy as np

    arr = _bmp_array(payload)
    h, w = arr.shape[0], arr.shape[1]
    assert h % factor == 0 and w % factor == 0, "dims must divide the factor"
    small = (
        arr.astype(np.int64)
        .reshape(h // factor, factor, w // factor, factor, 3)
        .sum(axis=(1, 3))
        // (factor * factor)
    ).astype(np.uint8)
    return _encode_bmp(small)


def resize_bmp_images(df: DataFrame, factor: int = 2) -> DataFrame:
    """Real BMP box-downsample via Arrow ``mapInPandas``; emits the
    re-encoded payload so downstream decode proves the round trip."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": pdf["payload"].map(lambda b: resize_bmp(b, factor)),
                    "mime": pdf["mime"],
                    "width": pd.Series(
                        [w // factor for w in pdf["width"]], dtype="int32"
                    ),
                    "height": pd.Series(
                        [h // factor for h in pdf["height"]], dtype="int32"
                    ),
                    "duration_ms": pdf["duration_ms"],
                }
            )

    return df.mapInPandas(_resize, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# REAL video decode (round 4): YUV4MPEG2 (Y4M) — a plain-text header plus
# raw planar frames, parseable with the standard library exactly like the
# WAV/BMP kernels above. This retires the last stubbed modality: the
# payloads are real .y4m files any ffmpeg/mpv build would accept, the
# decoder parses the actual format (header tokens, FRAME markers, 4:2:0
# plane geometry), and the fixture planes follow closed-form integer
# formulas so every decoded statistic is SQL-provable.
# ---------------------------------------------------------------------------

_Y4M_W, _Y4M_H = 16, 12


def _y4m_luma(media_id: int, f: int, x: int, y: int) -> int:
    """Closed-form Y-plane fixture formula — SQL-provable."""
    return (media_id * 11 + f * 19 + x * 5 + y * 7) % 256


def _y4m_chroma_u(media_id: int, f: int, cx: int, cy: int) -> int:
    return (media_id * 13 + f * 3 + cx * 9 + cy * 5) % 256


def _y4m_chroma_v(media_id: int, f: int, cx: int, cy: int) -> int:
    return (media_id * 17 + f * 7 + cx * 3 + cy * 13) % 256


def _y4m_frames(media_id: int) -> int:
    return 3 + media_id % 3


def make_y4m_media(spark, n: int = 24) -> DataFrame:
    """Real YUV4MPEG2 payloads: ``YUV4MPEG2 W16 H12 F25:1 Ip A1:1
    C420jpeg`` header, then per frame a ``FRAME`` marker and raw planar
    4:2:0 data (Y 16×12, U and V 8×6), every sample from the closed-form
    formulas above. Frame count varies per id (3–5)."""
    w, h = _Y4M_W, _Y4M_H
    cw, ch = w // 2, h // 2
    rows = []
    for i in range(n):
        buf = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\n".encode("ascii"))
        nf = _y4m_frames(i)
        for f in range(nf):
            buf += b"FRAME\n"
            buf += bytes(_y4m_luma(i, f, x, y) for y in range(h) for x in range(w))
            buf += bytes(_y4m_chroma_u(i, f, cx, cy) for cy in range(ch) for cx in range(cw))
            buf += bytes(_y4m_chroma_v(i, f, cx, cy) for cy in range(ch) for cx in range(cw))
        rows.append((i, "video", bytes(buf), "video/x-yuv4mpeg", w, h, nf * 1000 // 25))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _y4m_planes(payload: bytes):
    """Parse a C420 Y4M payload into (width, height, fps_num, fps_den,
    [(Y, U, V) numpy planes per frame]). Real format parsing: header
    token scan, per-frame FRAME marker (optional params ignored)."""
    import numpy as np

    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii").split(" ")
    assert header[0] == "YUV4MPEG2", "not a Y4M stream"
    w = h = None
    fps_num, fps_den = 25, 1
    for tok in header[1:]:
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("F"):
            fps_num, fps_den = (int(p) for p in tok[1:].split(":"))
        elif tok.startswith("C") and not tok[1:].startswith("420"):
            raise NotImplementedError(f"only 4:2:0 chroma supported, got {tok}")
    assert w and h, "Y4M header missing W/H"
    y_size, c_size = w * h, (w // 2) * (h // 2)
    frames = []
    off = nl + 1
    while off < len(payload):
        fnl = payload.index(b"\n", off)
        assert payload[off:fnl].split(b" ")[0] == b"FRAME", "bad frame marker"
        off = fnl + 1
        yp = np.frombuffer(payload, np.uint8, y_size, off).reshape(h, w)
        up = np.frombuffer(payload, np.uint8, c_size, off + y_size).reshape(h // 2, w // 2)
        vp = np.frombuffer(payload, np.uint8, c_size, off + y_size + c_size).reshape(h // 2, w // 2)
        frames.append((yp, up, vp))
        off += y_size + 2 * c_size
    return w, h, fps_num, fps_den, frames


VIDEO_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps", DoubleType()),
        StructField("mean_y", DoubleType()),
        StructField("mean_u", DoubleType()),
        StructField("mean_v", DoubleType()),
    ]
)


def decode_y4m(payload: bytes) -> tuple[int, int, int, float, float, float, float]:
    """REAL decode: parse the Y4M container and return
    (n_frames, width, height, fps, mean_y, mean_u, mean_v) across all
    frames. Integer plane sums are exact in float64."""
    import numpy as np

    w, h, fn, fd, frames = _y4m_planes(payload)
    ys = float(sum(int(f[0].sum(dtype=np.int64)) for f in frames))
    us = float(sum(int(f[1].sum(dtype=np.int64)) for f in frames))
    vs = float(sum(int(f[2].sum(dtype=np.int64)) for f in frames))
    nf = len(frames)
    return (
        nf,
        w,
        h,
        round(fn / fd, 6),
        round(ys / (nf * w * h), 6),
        round(us / (nf * (w // 2) * (h // 2)), 6),
        round(vs / (nf * (w // 2) * (h // 2)), 6),
    )


def decode_video_features(df: DataFrame) -> DataFrame:
    """Y4M feature extraction via Arrow-batched ``mapInPandas`` — same
    boundary discipline as the audio/image kernels (bytes cross once per
    batch, payload never survives the map)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [decode_y4m(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_frames": pd.Series([o[0] for o in out], dtype="int32"),
                    "width": pd.Series([o[1] for o in out], dtype="int32"),
                    "height": pd.Series([o[2] for o in out], dtype="int32"),
                    "fps": [o[3] for o in out],
                    "mean_y": [o[4] for o in out],
                    "mean_u": [o[5] for o in out],
                    "mean_v": [o[6] for o in out],
                }
            )

    return df.mapInPandas(_decode, VIDEO_DECODE_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame", IntegerType()),
        StructField("mean_y", DoubleType()),
    ]
)


def sample_y4m_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling: decode the Y4M stream and emit one row per
    SAMPLED frame (every ``every_n``-th, always including frame 0) with
    its luma mean — the decode-then-explode shape real frame extraction
    uses at scale. One mapInPandas pass; a 100 TB deployment would
    partition by media_id ranges sized on payload bytes first."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, frames_idx, means = [], [], []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                w, h, _, _, frames = _y4m_planes(b)
                for fi in range(0, len(frames), every_n):
                    ids.append(mid)
                    frames_idx.append(fi)
                    means.append(round(int(frames[fi][0].sum(dtype=np.int64)) / (w * h), 6))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame": pd.Series(frames_idx, dtype="int32"),
                    "mean_y": pd.Series(means, dtype="float64"),
                }
            )

    return df.filter(F.col("kind") == "video").mapInPandas(_sample, FRAME_SAMPLE_SCHEMA)


REAL_IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def extract_image_features(df: DataFrame) -> DataFrame:
    """REAL feature extraction (replaces the hash-pool stub in the
    contract): decode each BMP and emit an 8-dim descriptor
    [w, h, mean_r, mean_g, mean_b, range_r, range_g, range_b] — every
    entry integer-exact or an exact integer ratio, so the whole vector
    is SQL-provable from the fixture formula. Arrow-batched, payload
    dropped at the boundary."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def feat(b: bytes) -> list[float]:
            arr = _bmp_array(b).astype(np.float64)  # (h, w, 3) BGR
            means = arr.mean(axis=(0, 1))
            rng = arr.max(axis=(0, 1)) - arr.min(axis=(0, 1))
            return [
                float(arr.shape[1]),
                float(arr.shape[0]),
                round(float(means[2]), 6),
                round(float(means[1]), 6),
                round(float(means[0]), 6),
                float(rng[2]),
                float(rng[1]),
                float(rng[0]),
            ]

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "feature": pdf["payload"].map(feat),
                }
            )

    return df.mapInPandas(_extract, REAL_IMAGE_FEATURES_SCHEMA)


def resample_wav(payload: bytes, factor: int = 2) -> bytes:
    """REAL audio resample (decimation): keep every ``factor``-th PCM
    sample and re-encode at rate/factor — a valid WAV out, so downstream
    decode proves the transform. Exact (no interpolation), hence
    SQL-provable from the sample formula."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as r:
        assert r.getsampwidth() == 2 and r.getnchannels() == 1
        rate, nf = r.getframerate(), r.getnframes()
        samples = struct.unpack(f"<{nf}h", r.readframes(nf))
    kept = samples[::factor]
    out = io.BytesIO()
    with wave.open(out, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate // factor)
        w.writeframes(struct.pack(f"<{len(kept)}h", *kept))
    return out.getvalue()


def resample_wav_media(df: DataFrame, factor: int = 2) -> DataFrame:
    """Decimate WAV rows by ``factor`` via Arrow ``mapInPandas``; emits
    re-encoded payloads with updated duration metadata."""

    def _resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": pdf["payload"].map(lambda b: resample_wav(b, factor)),
                    "mime": pdf["mime"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "duration_ms": pdf["duration_ms"],
                }
            )

    return df.mapInPandas(_resample, MEDIA_SCHEMA)


SCENE_CHANGE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame", IntegerType()),
        StructField("mean_y", DoubleType()),
        StructField("delta_y", DoubleType()),
        StructField("is_change", BooleanType()),
    ]
)


def detect_scene_changes(df: DataFrame, threshold: float = 20.0) -> DataFrame:
    """Keyframe extraction: flag frames whose luma mean jumps more than
    ``threshold`` from the previous frame (plus frame 0, always a
    keyframe) — the shot-boundary heuristic video training pipelines
    use to sample one representative frame per scene instead of every
    N-th frame blindly (the complement of :func:`sample_y4m_frames`).

    The temporal difference is computed INSIDE the decode UDF: a
    video's frames live in one row, so no window, no shuffle — one
    Arrow ``mapInPandas`` pass emits (media_id, frame, mean_y,
    delta_y, is_change) and the payload bytes never leave the scan
    stage. Means and deltas round to 6 dp before the threshold test so
    the flags replay identically from the fixture formula in SQL.
    At 100 TB: same deployment note as every decode here — partition
    by media_id ranges sized on payload bytes; a real codec swaps into
    the same UDF body.
    """

    def _detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, fidx, means, deltas, flags = [], [], [], [], []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                w, h, _, _, frames = _y4m_planes(b)
                prev = None
                for fi, fr in enumerate(frames):
                    m = round(int(fr[0].sum(dtype=np.int64)) / (w * h), 6)
                    d = None if prev is None else round(m - prev, 6)
                    ids.append(mid)
                    fidx.append(fi)
                    means.append(m)
                    deltas.append(d)
                    flags.append(True if d is None else abs(d) > threshold)
                    prev = m
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame": pd.Series(fidx, dtype="int32"),
                    "mean_y": pd.Series(means, dtype="float64"),
                    "delta_y": pd.Series(deltas, dtype="float64"),
                    "is_change": pd.Series(flags, dtype="bool"),
                }
            )

    return df.filter(F.col("kind") == "video").mapInPandas(_detect, SCENE_CHANGE_SCHEMA)


SILENCE_SEGMENT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("n_silent", IntegerType()),
        StructField("first_voiced", IntegerType()),
        StructField("last_voiced", IntegerType()),
    ]
)


def segment_silence(
    df: DataFrame, frame_len: int = 80, threshold: int = 5000
) -> DataFrame:
    """Energy-based silence segmentation (VAD-style): split each PCM
    stream into ``frame_len``-sample frames (10 ms at 8 kHz), mark a
    frame silent when its peak |amplitude| stays under ``threshold``,
    and report the trim points (first/last voiced frame) — the
    leading/trailing-silence trim an audio training pipeline runs
    before feature extraction, and the audio counterpart of
    :func:`detect_scene_changes` (temporal structure INSIDE one row's
    payload: no window, no shuffle, one Arrow ``mapInPandas`` decode
    pass; the final frame may be partial). All-silent files report
    NULL trim points rather than sentinel indices."""

    def _segment(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        for pdf in batches:
            ids, nfs, nsil, first, last = [], [], [], [], []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(b), "rb") as w:
                    nf = w.getnframes()
                    samples = struct.unpack(f"<{nf}h", w.readframes(nf))
                voiced = []
                for s0 in range(0, nf, frame_len):
                    fr = samples[s0 : s0 + frame_len]
                    voiced.append(max(abs(s) for s in fr) >= threshold)
                ids.append(mid)
                nfs.append(len(voiced))
                nsil.append(sum(1 for v in voiced if not v))
                vi = [i for i, v in enumerate(voiced) if v]
                first.append(vi[0] if vi else None)
                last.append(vi[-1] if vi else None)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nfs, dtype="int32"),
                    "n_silent": pd.Series(nsil, dtype="int32"),
                    "first_voiced": pd.Series(first, dtype="Int32"),
                    "last_voiced": pd.Series(last, dtype="Int32"),
                }
            )

    return df.filter(F.col("kind") == "audio").mapInPandas(_segment, SILENCE_SEGMENT_SCHEMA)


AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("ahash", LongType()),
    ]
)


def ahash_bmp(payload: bytes, block: int = 2) -> int:
    """Average-hash (aHash) perceptual fingerprint from a REAL decoded
    BMP: sum r+g+b per ``block``×``block`` cell, set bit i when cell i's
    sum (cross-multiplied — pure integer arithmetic, no float mean) is
    above the image average. Brightness-only shifts preserve the bit
    pattern — the classic aHash property that makes it a near-dup
    bucket key, and exactly why a SQL oracle can replay it exactly."""
    import numpy as np

    arr = _bmp_array(payload).astype(np.int64)  # (h, w, 3) BGR
    h, w = arr.shape[0], arr.shape[1]
    s = arr.sum(axis=2)  # r+g+b per pixel
    by, bx = h // block, w // block
    cell_h = cell_w = block
    if by * bx > 64:
        # honor `block` only while the grid fits one 64-bit word; larger
        # images fall back to the classic fixed 8×8 aHash grid (cells grow
        # with the image) so the fingerprint is 64-bit for ANY input size
        # instead of overflowing the int64 column (r5 advice)
        by, bx = min(8, h), min(8, w)
        cell_h, cell_w = h // by, w // bx
    cells = (
        s[: by * cell_h, : bx * cell_w]
        .reshape(by, cell_h, bx, cell_w)
        .sum(axis=(1, 3))
    )
    total = int(cells.sum())
    n_cells = by * bx
    bits = (cells.astype(object) * n_cells > total).astype(np.uint8)
    hash_v = 0
    for yy in range(by):
        for xx in range(bx):
            if bits[yy, xx]:
                hash_v |= 1 << (yy * bx + xx)
    # bit 63 set → two's-complement into the signed int64 column range
    return hash_v - (1 << 64) if hash_v >= 1 << 63 else hash_v


def ahash_images(df: DataFrame, block: int = 2) -> DataFrame:
    """Perceptual-hash fingerprints for image payloads via Arrow-batched
    ``mapInPandas`` — the multimodal twin of the text fingerprint: one
    64-bit key per image, so image near-dup detection is the SAME cheap
    hash-groupBy the text stack uses (payloads never shuffle; the hash
    is computed where the bytes already sit).

    100 TB: decode + hash are row-local in the scan stage; everything
    downstream (bucket groupBy, keep-best, diff against an index) moves
    8-byte keys."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash": pd.Series(
                        [ahash_bmp(b, block) for b in pdf["payload"]], dtype="int64"
                    ),
                }
            )

    return df.mapInPandas(_hash, AHASH_SCHEMA)


EHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("ehash", LongType()),
    ]
)


def ehash_wav(payload: bytes, n_frames: int = 8, frame_len: int = 50) -> int:
    """Energy-envelope fingerprint ('eHash') of a WAV clip — the audio
    analog of :func:`ahash_bmp`: the clip's opening
    ``n_frames × frame_len`` PCM samples are split into fixed frames,
    each frame's mean |amplitude| is compared against the clip-head
    mean, and the resulting above/below-average bits pack into one
    integer. Loudness-invariant the way aHash is brightness-invariant
    (scaling every sample scales both sides of each comparison), so
    re-level-ed copies of the same clip collide — the production
    near-dup property. All-integer arithmetic (``frame_sum · n_frames
    ≥ total_sum`` avoids the division), hence bit-identical in any
    engine and SQL-replayable from the fixture's sample formula."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        assert w.getsampwidth() == 2 and w.getnchannels() == 1
        nf = w.getnframes()
        samples = struct.unpack(f"<{nf}h", w.readframes(nf))
    head = samples[: n_frames * frame_len]
    frames = [
        sum(abs(s) for s in head[f * frame_len : (f + 1) * frame_len])
        for f in range(n_frames)
    ]
    total = sum(frames)
    h = 0
    for f, fs in enumerate(frames):
        if fs * n_frames >= total:
            h |= 1 << f
    return h


def ehash_audio(df: DataFrame, n_frames: int = 8, frame_len: int = 50) -> DataFrame:
    """Energy-envelope fingerprints for WAV payloads via Arrow-batched
    ``mapInPandas`` — completes the near-dup fingerprint matrix
    (text: minhash/simhash, image: aHash, audio: eHash). The decode +
    hash are row-local in the scan stage; only (media_id, 8-byte key)
    rows ever shuffle."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ehash": pd.Series(
                        [ehash_wav(b, n_frames, frame_len) for b in pdf["payload"]],
                        dtype="int64",
                    ),
                }
            )

    return df.mapInPandas(_hash, EHASH_SCHEMA)
