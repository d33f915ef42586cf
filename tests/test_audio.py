"""Audio binary-column operators: real WAV decode/encode, Arrow-batched
feature extraction, clip sampling. Compressed codecs stay gated."""

from __future__ import annotations

import numpy as np
import pytest

from etl_bigquery_pipeline_spark.multimodal import audio_ops
from etl_bigquery_pipeline_spark.operators.localrel import literal_frame


def _sine(freq: float, dur_s: float, sr: int = 8000, ch: int = 1) -> np.ndarray:
    t = np.arange(int(dur_s * sr)) / sr
    x = 0.5 * np.sin(2 * np.pi * freq * t).astype(np.float32)
    return np.stack([x] * ch, axis=1)


def test_wav_roundtrip_and_header():
    x = _sine(440, 0.5, sr=8000, ch=2)
    payload = audio_ops.encode_wav(x, 8000)
    fmt, sr, ch, bits, n_frames, n_bytes = audio_ops.parse_wav_header(payload)
    assert (fmt, sr, ch, bits) == ("wav", 8000, 2, 16)
    assert n_frames == len(x)
    y, sr2 = audio_ops.decode_wav(payload)
    assert sr2 == 8000 and y.shape == x.shape
    assert np.allclose(y, x, atol=2 / 32768)


def test_decode_8bit_and_float32():
    import struct

    x = _sine(100, 0.1, sr=4000)[:, 0]
    # float32 WAV (audio_format=3)
    pcm = x.astype("<f4").tobytes()
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 3, 1, 4000, 16000, 4, 32)
        + b"data" + struct.pack("<I", len(pcm))
    )
    y, sr = audio_ops.decode_wav(hdr + pcm)
    assert sr == 4000 and np.allclose(y[:, 0], x, atol=1e-6)
    # 8-bit unsigned PCM
    pcm8 = ((np.clip(x, -1, 1) * 127) + 128).astype(np.uint8).tobytes()
    hdr8 = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm8)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 4000, 4000, 1, 8)
        + b"data" + struct.pack("<I", len(pcm8))
    )
    y8, _ = audio_ops.decode_wav(hdr8 + pcm8)
    # 8-bit carries ~1/128 quantization plus the 127-vs-128 scale skew
    assert np.allclose(y8[:, 0], x, atol=2 / 127)


def test_gated_codecs_raise_with_dependency_named():
    for magic in (b"ID3\x03rest", b"OggS junk", b"fLaC junk", b"\xff\xfb junk"):
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            audio_ops.decode_wav(magic)
    fmt, *_ = audio_ops.parse_wav_header(b"OggS junk")
    assert fmt == "ogg"
    assert audio_ops.parse_wav_header(b"garbage!")[0] == "unknown"


def test_with_audio_meta_mapinpandas(spark):
    rows = [
        (1, audio_ops.encode_wav(_sine(440, 0.25), 8000)),
        (2, b"OggS junk"),
        (3, b"not audio"),
    ]
    df = literal_frame(spark, rows, "audio_id int, payload binary")
    out = {r.audio_id: r.meta for r in audio_ops.with_audio_meta(df).collect()}
    assert out[1].format == "wav" and out[1].sample_rate == 8000
    assert out[1].n_frames == 2000
    assert out[2].format == "ogg" and out[2].sample_rate is None
    assert out[3].format == "unknown"


def test_audio_features_real_signal(spark):
    quiet = audio_ops.encode_wav(_sine(440, 0.5) * 0.1, 8000)
    loud = audio_ops.encode_wav(_sine(440, 0.5), 8000)
    df = literal_frame(
        spark,
        [(1, quiet), (2, loud), (3, b"fLaC junk")],
        "audio_id int, payload binary",
    )
    out = {r.audio_id: r for r in audio_ops.audio_features(df).collect()}
    assert out[1].ok and out[2].ok and not out[3].ok
    assert abs(out[2].duration_s - 0.5) < 1e-6
    # sine RMS = amplitude / sqrt(2); quiet is 10% of loud
    assert abs(out[2].rms - 0.5 / np.sqrt(2)) < 0.01
    assert abs(out[1].rms * 10 - out[2].rms * 1) < 0.01 * out[2].rms * 10
    # 440 Hz sine crosses zero ~880 times/s -> zcr ~ 880/8000
    assert abs(out[2].zcr - 880 / 8000) < 0.02
    assert out[3].duration_s is None


def test_sample_clips_contract(spark):
    payload = audio_ops.encode_wav(_sine(220, 2.5), 8000)
    df = literal_frame(spark, [(7, payload)], "audio_id int, payload binary")
    clips = audio_ops.sample_clips(
        df, clip_s=1.0, stride_s=1.0
    ).orderBy("clip_idx").collect()
    assert [c.clip_idx for c in clips] == [0, 1, 2]
    assert [c.start_s for c in clips] == [0.0, 1.0, 2.0]
    # every clip is itself a decodable WAV of <= 1s
    for c in clips:
        y, sr = audio_ops.decode_wav(bytes(c.clip))
        assert sr == 8000 and len(y) <= 8000
    assert len(audio_ops.decode_wav(bytes(clips[2].clip))[0]) == 4000


def test_g711_mulaw_alaw_decode_matches_audioop():
    """G.711 companded WAV decodes for real: the closed-form table must
    match CPython's audioop reference byte-for-byte over all 256 codes,
    and a mu-law WAV payload must decode through decode_wav."""
    import struct
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    allb = bytes(range(256))
    for mu, fn in ((True, audioop.ulaw2lin), (False, audioop.alaw2lin)):
        table = audio_ops._g711_table(mu=mu)
        ref = np.frombuffer(fn(allb, 2), dtype="<i2").astype(np.int32)
        assert np.array_equal(table, ref), f"mu={mu}"

    # mu-law WAV end-to-end: compress a sine with audioop, decode natively
    x = _sine(200, 0.05, sr=8000)[:, 0]
    lin = (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
    ulaw = audioop.lin2ulaw(lin, 2)
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(ulaw)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 7, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(ulaw))
    )
    y, sr = audio_ops.decode_wav(hdr + ulaw)
    assert sr == 8000 and y.shape == (len(x), 1)
    # mu-law is ~14-bit log PCM: generous but meaningful tolerance
    assert np.abs(y[:, 0] - x).max() < 0.02


def _encode_ima_wav(samples, sr, groups_per_block=8):
    """IMA ADPCM WAV encoder for fixtures: spec quantizer, per-block
    headers carrying (predictor, step index). Returns (payload,
    reconstruction int16 array) — the reconstruction is the predictor
    sequence a correct decoder must reproduce EXACTLY."""
    import struct

    import numpy as np

    from etl_bigquery_pipeline_spark.multimodal.audio_ops import (
        _IMA_STEP_TABLE,
        _ima_step,
    )

    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    frames, ch = samples.shape
    fpb = 1 + 8 * groups_per_block
    block_align = 4 * ch * (1 + groups_per_block)
    data = bytearray()
    recon = []
    idx = [0] * ch
    f = 0
    while f + fpb <= frames:
        pred = [int(samples[f, c]) for c in range(ch)]
        for c in range(ch):
            data += struct.pack("<hBB", pred[c], idx[c], 0)
        block_recon = [list(pred[c : c + 1]) for c in range(ch)]
        nibbles = [[] for _ in range(ch)]
        for k in range(1, fpb):
            for c in range(ch):
                step = _IMA_STEP_TABLE[idx[c]]
                diff = int(samples[f + k, c]) - pred[c]
                n = 0
                if diff < 0:
                    n = 8
                    diff = -diff
                if diff >= step:
                    n |= 4
                    diff -= step
                if diff >= step >> 1:
                    n |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    n |= 1
                pred[c], idx[c] = _ima_step(pred[c], idx[c], n)
                nibbles[c].append(n)
                block_recon[c].append(pred[c])
        for g in range(groups_per_block):
            for c in range(ch):
                for j in range(4):
                    lo = nibbles[c][g * 8 + 2 * j]
                    hi = nibbles[c][g * 8 + 2 * j + 1]
                    data.append(lo | (hi << 4))
        for k in range(fpb):
            for c in range(ch):
                recon.append(block_recon[c][k])
        f += fpb
    fmt = struct.pack(
        "<HHIIHH", 0x11, ch, sr, sr * block_align // fpb, block_align, 4
    )
    payload = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + bytes(data)
    )
    return payload, np.asarray(recon, dtype=np.int16).reshape(-1, ch)


def test_ima_adpcm_decode_exact_and_faithful():
    """decode_wav reproduces the encoder's predictor sequence exactly
    (container/packing/state machine), and the lossy round-trip still
    correlates >0.99 with the source sine (independent fidelity check)."""
    import numpy as np

    from etl_bigquery_pipeline_spark.multimodal import audio_ops

    t = np.arange(2000)
    sine = (np.sin(t / 20.0) * 12000).astype(np.int16)
    payload, recon = _encode_ima_wav(sine, 8000)
    got, sr = audio_ops.decode_wav(payload)
    assert sr == 8000
    got_i16 = np.round(got[:, 0] * 32768.0).astype(np.int64)
    assert len(got_i16) == len(recon)
    assert np.array_equal(got_i16, recon[:, 0].astype(np.int64))
    m = min(len(got_i16), len(sine))
    corr = np.corrcoef(got_i16[:m], sine[:m].astype(np.int64))[0, 1]
    assert corr > 0.99


def test_ima_adpcm_stereo_channels_independent():
    import numpy as np

    from etl_bigquery_pipeline_spark.multimodal import audio_ops

    t = np.arange(1500)
    left = (np.sin(t / 15.0) * 9000).astype(np.int16)
    right = (np.sin(t / 40.0 + 1.0) * 5000).astype(np.int16)
    stereo = np.stack([left, right], axis=1)
    payload, recon = _encode_ima_wav(stereo, 16000)
    got, sr = audio_ops.decode_wav(payload)
    assert sr == 16000 and got.shape[1] == 2
    got_i16 = np.round(got * 32768.0).astype(np.int64)
    assert np.array_equal(got_i16, recon.astype(np.int64))
    m = len(got_i16)
    assert np.corrcoef(got_i16[:, 0], left[:m].astype(np.int64))[0, 1] > 0.99
    assert np.corrcoef(got_i16[:, 1], right[:m].astype(np.int64))[0, 1] > 0.99


def test_spectral_features_find_dominant_tone(spark):
    tone_a = audio_ops.encode_wav(_sine(440, 0.5), 8000)
    tone_b = audio_ops.encode_wav(_sine(1200, 0.5), 8000)
    df = literal_frame(
        spark,
        [(1, tone_a), (2, tone_b), (3, b"RIFFgarbage")],
        "audio_id long, payload binary",
    )
    rows = {r.audio_id: r for r in audio_ops.spectral_features(df).collect()}
    assert abs(rows[1].dominant_hz - 440) < 5
    assert abs(rows[2].dominant_hz - 1200) < 5
    assert rows[2].centroid_hz > rows[1].centroid_hz
    assert rows[3].ok is False and rows[3].dominant_hz is None
