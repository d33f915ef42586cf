"""Video container plumbing: real AVI/MP4 header parsing, gated frame
decode, frame-sampling policy over parsed metadata."""

from __future__ import annotations

import struct

import pytest

from etl_bigquery_pipeline_spark.multimodal import video_ops
from etl_bigquery_pipeline_spark.operators.localrel import literal_frame


def _avi(w=320, h=240, fps=10, frames=25) -> bytes:
    us_per_frame = int(1e6 / fps)
    avih = (
        struct.pack("<IIII", us_per_frame, 0, 0, 0)
        + struct.pack("<IIII", frames, 0, 1, 0)
        + struct.pack("<II", w, h)
        + b"\x00" * 16
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    body = b"AVI " + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mp4(w=640, h=360, timescale=1000, duration=2500) -> bytes:
    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    mvhd = bytes([0]) + b"\x00" * 3 + b"\x00" * 8 + struct.pack(
        ">II", timescale, duration
    ) + b"\x00" * 80
    tkhd = bytes([0]) + b"\x00" * 3 + b"\x00" * 72 + struct.pack(
        ">II", w << 16, h << 16
    )
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd)))
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def test_avi_header_real_parse():
    c, w, h, dur, frames, nb = video_ops.parse_video_header(_avi())
    assert (c, w, h, frames) == ("avi", 320, 240, 25)
    assert abs(dur - 2.5) < 1e-6
    assert nb == len(_avi())


def test_mp4_header_real_parse():
    c, w, h, dur, frames, nb = video_ops.parse_video_header(_mp4())
    assert (c, w, h) == ("mp4", 640, 360)
    assert abs(dur - 2.5) < 1e-6
    assert frames is None  # frame count lives in stbl, codec territory


def test_unknown_and_mkv_sniff():
    assert video_ops.parse_video_header(b"garbage")[0] == "unknown"
    assert video_ops.parse_video_header(b"\x1a\x45\xdf\xa3rest")[0] == "mkv"
    assert video_ops.parse_video_header(None)[0] is None


def test_decode_gated_names_dependency():
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        video_ops.decode_frames(_avi())


def test_with_video_meta_mapinpandas(spark):
    df = literal_frame(
        spark,
        [(1, _avi()), (2, _mp4()), (3, b"junk")],
        "video_id int, payload binary",
    )
    out = {r.video_id: r.meta for r in video_ops.with_video_meta(df).collect()}
    assert out[1].container == "avi" and out[1].width == 320
    assert out[2].container == "mp4" and out[2].height == 360
    assert out[3].container == "unknown" and out[3].width is None


def test_frame_sample_plan(spark):
    df = literal_frame(
        spark,
        [(1, _avi(fps=10, frames=25)), (2, b"junk")],
        "video_id int, payload binary",
    )
    plan = video_ops.frame_sample_plan(df, every_s=1.0).orderBy(
        "video_id", "frame_idx"
    ).collect()
    # 2.5s at 1s stride -> t = 0, 1, 2; junk yields no rows
    assert [(r.video_id, r.frame_idx, r.t_s) for r in plan] == [
        (1, 0, 0.0),
        (1, 10, 1.0),
        (1, 20, 2.0),
    ]


def _mjpeg_avi(jpegs: list[bytes], w: int, h: int, fps: int = 5) -> bytes:
    """Minimal MJPEG AVI: avih header + a movi LIST of 00dc JPEG chunks."""
    us_per_frame = int(1e6 / fps)
    avih = (
        struct.pack("<IIII", us_per_frame, 0, 0, 0)
        + struct.pack("<IIII", len(jpegs), 0, 1, 0)
        + struct.pack("<II", w, h)
        + b"\x00" * 16
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi = b"movi" + b"".join(
        b"00dc" + struct.pack("<I", len(j)) + j + (b"\x00" * (len(j) % 2))
        for j in jpegs
    )
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_mjpeg_avi_frames_decode_for_real():
    """Motion-JPEG AVI decodes frame pixels natively now: distinct solid
    colors per frame must come back in order within quantization loss."""
    import numpy as np

    from tests.jpeg_fixture import encode_baseline_jpeg

    colors = [(200, 40, 40), (40, 200, 40), (40, 40, 200)]
    jpegs = [
        encode_baseline_jpeg(np.full((16, 24, 3), c, dtype=np.uint8))
        for c in colors
    ]
    payload = _mjpeg_avi(jpegs, 24, 16)
    assert video_ops.parse_video_header(payload)[0] == "avi"
    frames = video_ops.decode_frames(payload)
    assert len(frames) == 3
    for arr, c in zip(frames, colors):
        assert arr.shape == (16, 24, 3)
        assert np.abs(arr.astype(int) - np.array(c)).max() <= 2
    assert len(video_ops.decode_frames(payload, max_frames=2)) == 2
    # a non-MJPEG AVI still names the dependency
    with pytest.raises(NotImplementedError, match="pyav/ffmpeg"):
        video_ops.decode_frames(_avi())


def test_extract_mjpeg_frames_spark(spark):
    """The Spark-side frame extraction: every_n sampling, PPM re-encode
    consumable by the image ops, undecodable payloads contribute 0 rows."""
    import numpy as np

    from etl_bigquery_pipeline_spark.multimodal import binary_ops
    from tests.jpeg_fixture import encode_baseline_jpeg

    jpegs = [
        encode_baseline_jpeg(np.full((8, 8, 3), (i * 40, 10, 10), dtype=np.uint8))
        for i in range(5)
    ]
    df = literal_frame(
        spark,
        [(1, _mjpeg_avi(jpegs, 8, 8)), (2, _avi()), (3, None)],
        "video_id long, payload binary",
    )
    out = video_ops.extract_mjpeg_frames(df, every_n=2, max_frames=2).collect()
    assert [(r.video_id, r.frame_idx) for r in out] == [(1, 0), (1, 2)]
    first = binary_ops.decode_image(bytes(out[0].frame))
    assert first.shape == (8, 8, 3)
    assert abs(int(first[0, 0, 0]) - 0) <= 3  # frame 0 has red channel 0
