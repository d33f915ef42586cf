"""The multimodal tier's one payload mapper (binary_ops.map_payloads) and
the decoder error contract it relies on: a NULL or corrupt payload gets
its operator's fallback rows, never a failed task."""

from __future__ import annotations

import random
import struct

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_bigquery_pipeline_spark.multimodal import audio_ops, binary_ops, video_ops
from tests.jpeg_fixture import encode_baseline_jpeg
from tests.test_multimodal import _encode_png
from tests.test_video import _mjpeg_avi

IMG = np.random.RandomState(7).randint(0, 256, (16, 16, 3), dtype=np.uint8)
JPEG = encode_baseline_jpeg(IMG)
PNG = _encode_png(IMG, [0, 1, 2, 3, 4])
WAV = audio_ops.encode_wav(0.5 * np.sin(np.arange(2000) / 3.0), 8000)
AVI = _mjpeg_avi([JPEG, JPEG], 16, 16)


def _mp4_v1(timescale: int = 600, duration: int = 1500) -> bytes:
    """An MP4 whose mvhd is version 1 (64-bit times and duration)."""

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd = b"\x01\x00\x00\x00" + b"\x00" * 16 + struct.pack(">IQ", timescale, duration)
    return box(b"ftyp", b"isom\x00\x00\x02\x00") + box(b"moov", box(b"mvhd", mvhd + b"\x00" * 80))


def _mutations(payload: bytes, seed: int, n_flips: int = 200) -> list[bytes]:
    """Every truncation of ``payload`` plus ``n_flips`` seeded copies with
    three bytes XOR-flipped."""
    rng = random.Random(seed)
    out = [payload[:k] for k in range(len(payload))]
    for _ in range(n_flips):
        b = bytearray(payload)
        for _ in range(3):
            b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
        out.append(bytes(b))
    return out


@pytest.mark.parametrize(
    "payload, decode, parse_header",
    [
        pytest.param(JPEG, binary_ops.decode_image, binary_ops.parse_image_header, id="jpeg"),
        pytest.param(PNG, binary_ops.decode_image, binary_ops.parse_image_header, id="png"),
        pytest.param(WAV, audio_ops.decode_wav, audio_ops.parse_wav_header, id="wav"),
        pytest.param(AVI, video_ops.decode_frames, video_ops.parse_video_header, id="mjpeg-avi"),
        pytest.param(_mp4_v1(), video_ops.decode_frames, video_ops.parse_video_header, id="mp4"),
    ],
)
def test_decoders_raise_only_the_undecodable_errors(payload, decode, parse_header):
    """A decoder either decodes or raises ValueError (malformed, NULL
    included) / NotImplementedError (codec-gated) — the two errors
    map_payloads turns into fallback rows. Header sniffers never raise."""
    with pytest.raises(ValueError):
        decode(None)
    for bad in _mutations(payload, seed=11):
        try:
            decode(bad)
        except (ValueError, NotImplementedError):
            pass
        parse_header(bad)


def test_payload_frame_keeps_64_bit_integers_next_to_a_null():
    """Left to inference, one None widens an int column to float64 and
    rounds values past 2**53; the schema-typed frame keeps them exact."""
    big = [2**53 + 1, -(2**63), 2**63 - 1]
    fields = [T.StructField("h", T.LongType()), T.StructField("w", T.IntegerType())]
    frame = binary_ops.payload_frame(
        [(big[0], 7), (None, None), (big[1], 8), (big[2], 9)], fields
    )
    assert str(frame["h"].dtype) == "Int64" and str(frame["w"].dtype) == "Int32"
    assert pa.Array.from_pandas(frame["h"]).to_pylist() == [big[0], None, big[1], big[2]]
    assert frame["w"].tolist()[0] == 7 and frame["w"].isna().tolist() == [False, True, False, False]
    empty = binary_ops.payload_frame([], fields)
    assert list(empty.columns) == ["h", "w"] and len(empty) == 0


def _undefined_quant_table(jpeg: bytes) -> bytes:
    """A JPEG whose frame header names quantization table 7, which the
    stream never defines."""
    b = bytearray(jpeg)
    b[jpeg.index(b"\xff\xc0") + 12] = 7
    return bytes(b)


GOOD = {"image": JPEG, "audio": WAV, "video": AVI}
CORRUPT = {
    "image": _undefined_quant_table(JPEG),
    "audio": WAV[:20],  # cut inside the fmt chunk
    "video": _mjpeg_avi([JPEG[: len(JPEG) // 4]], 16, 16),  # frame cut short
}


def _meta(parse):
    return lambda p: [(p, parse(p))]


def _null_row(n_features: int):
    return lambda p: [(None,) * n_features + (False,)]


# (operator, modality, fallback): ``fallback(payload)`` is the rows (id
# column dropped) a bad payload must produce; None means the operator
# never decodes, so a bad row must come out as it does in a frame
# without the good one
MAPPERS = [
    pytest.param(binary_ops.with_image_meta, "image", _meta(binary_ops.parse_image_header), id="with_image_meta"),
    pytest.param(binary_ops.extract_features, "image", None, id="extract_features"),
    pytest.param(
        binary_ops.resize_images,
        "image",
        lambda p: [(p, *binary_ops.parse_image_header(p)[1:3], False)],
        id="resize_images",
    ),
    pytest.param(binary_ops.channel_stats, "image", lambda p: [(None,) * 6], id="channel_stats"),
    pytest.param(binary_ops.sample_frames, "image", None, id="sample_frames"),
    pytest.param(binary_ops.with_perceptual_hash, "image", _null_row(1), id="with_perceptual_hash"),
    pytest.param(audio_ops.with_audio_meta, "audio", _meta(audio_ops.parse_wav_header), id="with_audio_meta"),
    pytest.param(audio_ops.audio_features, "audio", _null_row(4), id="audio_features"),
    pytest.param(audio_ops.sample_clips, "audio", lambda p: [], id="sample_clips"),
    pytest.param(audio_ops.spectral_features, "audio", _null_row(3), id="spectral_features"),
    pytest.param(video_ops.with_video_meta, "video", _meta(video_ops.parse_video_header), id="with_video_meta"),
    pytest.param(video_ops.extract_mjpeg_frames, "video", lambda p: [], id="extract_mjpeg_frames"),
    pytest.param(video_ops.frame_sample_plan, "video", None, id="frame_sample_plan"),
]


KEEP_ALL_COLUMNS = {
    binary_ops.with_image_meta,
    audio_ops.with_audio_meta,
    video_ops.with_video_meta,
}


@pytest.mark.parametrize("op, modality, fallback", MAPPERS)
def test_null_and_corrupt_payloads_fall_back_per_row(spark, op, modality, fallback):
    good, corrupt = GOOD[modality], CORRUPT[modality]
    # id % 10: 1 good, 2 NULL, 3 corrupt. Each range is one partition, so
    # one Arrow batch: ids 1-3 share one, which must not fail; ids 11 and
    # 12-13 repeat them in batches of their own
    payload = F.when(F.col("id") % 10 == 1, F.lit(good)).when(
        F.col("id") % 10 == 3, F.lit(corrupt)
    )
    df = None
    for lo, hi in ((1, 4), (11, 12), (12, 14)):
        part = spark.range(lo, hi, 1, 1).select("id", payload.alias("payload"))
        df = part if df is None else df.union(part)
    out: dict[int, list[tuple]] = {}
    kwargs = {} if op in KEEP_ALL_COLUMNS else {"id_col": "id"}
    for r in op(df, **kwargs).collect():
        out.setdefault(r[0], []).append(tuple(r)[1:])

    assert out[1] and out[1] == out[11]
    bad = {2: out.get(2, []), 3: out.get(3, [])}
    if fallback is None:
        assert bad == {2: out.get(12, []), 3: out.get(13, [])}
    else:
        assert bad == {2: fallback(None), 3: fallback(corrupt)}
