"""Video binary-column plumbing: real container parsing, gated decode.

Completes the multimodal matrix (images: binary_ops, audio: audio_ops).
CONTAINER structure parses for real — AVI via the same RIFF chunk walk
the WAV parser uses, MP4/MOV via an ISO BMFF box walk (ftyp brand, mvhd
timescale/duration, tkhd display dimensions). FRAME decode is real for
motion-JPEG AVI (each stream chunk is a baseline JPEG that
multimodal/jpeg.py decodes); every other codec raises NotImplementedError
naming pyav/ffmpeg, and a malformed or NULL payload raises ValueError
(``binary_ops.payload_decoder``). Frame SAMPLING policy (which timestamps
to pull) is pure arithmetic over the parsed container metadata.

Every DataFrame entry point runs through ``binary_ops.map_payloads``
(Arrow-batched; undecodable payloads contribute no frame rows); row size
is the planning unit (see binary_ops.repartition_for_payload).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from etl_bigquery_pipeline_spark.multimodal.binary_ops import (
    encode_ppm,
    map_payloads,
    payload_decoder,
    with_header_meta,
)

VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("container", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _parse_avi(payload: bytes):
    """(width, height, duration_s, n_frames) from the 'avih' main header
    — RIFF chunk walk, same device as the WAV parser."""
    n = len(payload)
    i = 12
    while i + 8 <= n:
        cid = payload[i : i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if cid == b"LIST" and payload[i + 8 : i + 12] == b"hdrl":
            i += 12  # descend into the header list
            continue
        if cid == b"avih" and i + 8 + 40 <= n:
            (us_per_frame,) = struct.unpack("<I", payload[i + 8 : i + 12])
            (total_frames,) = struct.unpack("<I", payload[i + 24 : i + 28])
            w, h = struct.unpack("<II", payload[i + 40 : i + 48])
            dur = (
                round(total_frames * us_per_frame / 1e6, 6)
                if us_per_frame
                else None
            )
            return w, h, dur, total_frames
        i += 8 + clen + (clen % 2)
    return None, None, None, None


def _parse_mp4(payload: bytes):
    """(width, height, duration_s, n_frames=None) from mvhd/tkhd boxes —
    ISO BMFF box walk. tkhd stores display size as 16.16 fixed point."""
    n = len(payload)
    dur = w = h = None

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        nonlocal dur, w, h
        i = lo
        while i + 8 <= hi and depth < 6:
            (size,) = struct.unpack(">I", payload[i : i + 4])
            btype = payload[i + 4 : i + 8]
            if size == 0:
                size = hi - i
            if size < 8:
                return
            if btype in (b"moov", b"trak"):
                walk(i + 8, min(i + size, hi), depth + 1)
            elif btype == b"mvhd" and i + 8 + 20 <= hi:
                ver = payload[i + 8]
                if ver != 1:
                    ts, d = struct.unpack(">II", payload[i + 20 : i + 28])
                elif i + 40 <= hi:  # version 1: 64-bit times and duration
                    ts, d = struct.unpack(">IQ", payload[i + 28 : i + 40])
                else:  # truncated version-1 header
                    ts = 0
                if ts:
                    dur = round(d / ts, 6)
            elif btype == b"tkhd" and i + size <= hi:
                ver = payload[i + 8]
                off = i + size - 8  # width/height are the box's last 8 bytes
                fw, fh = struct.unpack(">II", payload[off : off + 8])
                if fw and fh:
                    w, h = fw >> 16, fh >> 16
            i += size

    walk(0, n)
    return w, h, dur, None


def parse_video_header(payload: bytes | None):
    """(container, width, height, duration_s, n_frames, n_bytes) — pure
    struct container walk, no codec library."""
    if not payload:
        return None, None, None, None, None, 0
    n = len(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        w, h, dur, frames = _parse_avi(payload)
        return "avi", w, h, dur, frames, n
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        w, h, dur, frames = _parse_mp4(payload)
        return "mp4", w, h, dur, frames, n
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        return "mkv", None, None, None, None, n  # EBML: IDs are vint-coded
    return "unknown", None, None, None, None, n


def with_video_meta(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Attach the typed video metadata struct (Arrow batches, every input
    column passes through)."""
    return with_header_meta(df, binary_col, VIDEO_META_SCHEMA, parse_video_header)


def _movi_chunks(payload: bytes):
    """Yield (chunk_id, data) for every stream chunk inside the AVI
    'movi' LIST — the same RIFF walk as the header parse, descending one
    level deeper."""
    n = len(payload)
    i = 12
    while i + 8 <= n:
        cid = payload[i : i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if cid == b"LIST":
            ltype = payload[i + 8 : i + 12]
            if ltype == b"movi":
                j = i + 12
                end = min(n, i + 8 + clen)
                while j + 8 <= end:
                    scid = payload[j : j + 4]
                    (slen,) = struct.unpack("<I", payload[j + 4 : j + 8])
                    yield scid, payload[j + 8 : j + 8 + slen]
                    j += 8 + slen + (slen % 2)
            i += 8 + clen + (clen % 2)
            continue
        i += 8 + clen + (clen % 2)


@payload_decoder
def decode_frames(payload: bytes, *, max_frames: int | None = None):
    """Frame pixel decode — REAL for motion-JPEG AVI (each '..dc'/'..db'
    stream chunk is a baseline JPEG, decoded by multimodal/jpeg.py);
    every other codec stays honestly gated behind NotImplementedError
    naming the dependency. Returns a list of ndarray(h, w, 3) uint8."""
    container, *_ = parse_video_header(payload)
    if container == "avi":
        from etl_bigquery_pipeline_spark.multimodal.jpeg import (
            decode_baseline_jpeg,
        )

        frames = []
        for cid, data in _movi_chunks(payload):
            if cid[2:4] in (b"dc", b"db") and data[:2] == b"\xff\xd8":
                frames.append(decode_baseline_jpeg(data))
                if max_frames is not None and len(frames) >= max_frames:
                    break
        if frames:
            return frames
        raise NotImplementedError(
            "AVI stream is not motion-JPEG; other codecs require"
            " pyav/ffmpeg (not in this environment)"
        )
    raise NotImplementedError(
        f"{container or 'video'} frame decode requires pyav/ffmpeg (not in"
        " this environment); container metadata parses natively"
    )


def extract_mjpeg_frames(
    df: DataFrame,
    id_col: str = "video_id",
    binary_col: str = "payload",
    *,
    every_n: int = 1,
    max_frames: int = 16,
) -> DataFrame:
    """Real frame extraction for MJPEG AVI payloads, Arrow-batched: one
    output row per kept frame (every ``every_n``-th, up to
    ``max_frames``), the pixels re-encoded as lossless PPM so downstream
    image ops (resize, channel stats, features) consume them directly.
    Non-MJPEG/undecodable payloads contribute no rows — the honest
    behavior for a mixed corpus; route them via with_video_meta if they
    need accounting."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def frames(payload: bytes | None) -> Iterator[tuple]:
        decoded = decode_frames(payload, max_frames=max_frames * every_n)
        for k, arr in enumerate(decoded[::every_n][:max_frames]):
            yield k * every_n, arr.shape[1], arr.shape[0], encode_ppm(arr)

    return map_payloads(
        df, out_schema, frames, binary_col=binary_col, keep=[id_col]
    )


def frame_sample_plan(
    df: DataFrame,
    id_col: str = "video_id",
    binary_col: str = "payload",
    *,
    every_s: float = 1.0,
    max_frames: int = 16,
) -> DataFrame:
    """The sampling POLICY, decoupled from decode: one row per planned
    frame (frame_idx, t_s) derived from the parsed duration/frame count —
    pure arithmetic over real container metadata, so the Spark-side
    plumbing (explode shape, partitioning, schema) is fully exercised
    while pixel decode stays gated. A decoder plugs in per-row."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("t_s", T.DoubleType()),
        ]
    )

    def plan(payload: bytes | None) -> Iterator[tuple]:
        _, _, _, dur, frames, _ = parse_video_header(payload)
        if dur is None:
            return
        fps = (frames / dur) if (frames and dur) else None
        k = 0
        t = 0.0
        while t < dur and k < max_frames:
            yield (int(t * fps) if fps else k), round(t, 6)
            k += 1
            t = k * every_s

    return map_payloads(
        df, out_schema, plan, binary_col=binary_col, keep=[id_col]
    )
