"""Multimodal binary-column plumbing: real header parsing, Arrow-batched
mapInPandas contracts, payload-aware repartitioning. Pixel decode/resize/
stats run FOR REAL on uncompressed formats (PPM/BMP, pure numpy); only
compressed codecs stay gated."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_bigquery_pipeline_spark.multimodal import binary_ops
from etl_bigquery_pipeline_spark.operators.localrel import literal_frame


def _rng_image(h: int, w: int, seed: int = 7) -> np.ndarray:
    return np.random.RandomState(seed).randint(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )


def _bmp(arr: np.ndarray) -> bytes:
    """Minimal 24-bit uncompressed BMP encoder (bottom-up, padded rows)."""
    h, w = arr.shape[:2]
    row = w * 3
    pad = (4 - row % 4) % 4
    body = b"".join(
        arr[r, :, ::-1].tobytes() + b"\x00" * pad for r in range(h - 1, -1, -1)
    )
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    )
    return header + body


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\rIHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x06\x00\x00\x00"
    )


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 4


def _jpeg(w: int, h: int) -> bytes:
    # SOI + APP0 stub + SOF0 with dims
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    sof0 = b"\xff\xc0" + struct.pack(">H", 9) + b"\x08" + struct.pack(">HH", h, w) + b"\x01"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_header_parsing_pure():
    assert binary_ops.parse_image_header(_png(640, 480))[:3] == ("png", 640, 480)
    assert binary_ops.parse_image_header(_gif(10, 20))[:3] == ("gif", 10, 20)
    assert binary_ops.parse_image_header(_jpeg(800, 600))[:3] == ("jpeg", 800, 600)
    assert binary_ops.parse_image_header(b"garbage")[0] == "unknown"
    assert binary_ops.parse_image_header(None) == (None, None, None, 0)


def test_with_image_meta_mapinpandas(spark):
    rows = [
        (1, _png(640, 480)),
        (2, _jpeg(320, 240)),
        (3, None),
    ]
    df = literal_frame(spark, rows, "id long, payload binary")
    out = {r.id: r.meta for r in binary_ops.with_image_meta(df).collect()}
    assert out[1]["format"] == "png" and out[1]["width"] == 640
    assert out[2]["format"] == "jpeg" and out[2]["height"] == 240
    assert out[3]["format"] is None and out[3]["n_bytes"] == 0


def test_extract_features_contract(spark):
    df = literal_frame(
        spark,
        [(1, b"hello world"), (2, b"hello world"), (3, b"different")],
        "id long, payload binary",
    )
    feats = {r.id: r.feature for r in binary_ops.extract_features(df, dim=8).collect()}
    assert len(feats[1]) == 8
    assert feats[1] == feats[2]  # deterministic
    assert feats[1] != feats[3]
    assert all(0.0 <= v <= 1.0 for v in feats[1])


def _filter_scanlines(flat: np.ndarray, filters: list[int], ch: int) -> bytearray:
    """Apply the given PNG filter types (cycled per row) to one
    (sub-)image of shape (rows, stride); prev row starts at zeros."""
    rows, stride = flat.shape
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(rows):
        cur = flat[r].astype(np.int32)
        ft = filters[r % len(filters)]
        left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
        ul = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = cur - left
        elif ft == 2:
            enc = cur - prev
        elif ft == 3:
            enc = cur - (left + prev) // 2
        else:  # Paeth
            p = left + prev - ul
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = cur - pred
        raw.append(ft)
        raw.extend((enc % 256).astype(np.uint8).tobytes())
        prev = cur
    return raw


def _encode_png(
    arr: np.ndarray, filters: list[int], *, interlace: bool = False
) -> bytes:
    """Real PNG encoder for fixtures: applies the given filter type per
    row (cycled) so the decoder's inversion of every filter is exercised.
    Handles 2-d (gray) and 3-d (RGB/RGBA) arrays; ``interlace`` emits a
    real Adam7 stream (7 independently-filtered reduced images)."""
    import zlib

    from etl_bigquery_pipeline_spark.multimodal.binary_ops import _ADAM7

    if arr.ndim == 2:
        ch, color = 1, 0
        px = arr[:, :, None]
    else:
        ch = arr.shape[2]
        color = {3: 2, 4: 6}[ch]
        px = arr
    h, w = px.shape[0], px.shape[1]
    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx, :]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raw += _filter_scanlines(
                sub.reshape(sub.shape[0], -1), filters, ch
            )
    else:
        raw = _filter_scanlines(px.reshape(h, -1), filters, ch)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        import zlib as z

        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", z.crc32(ctype + data))
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, color, 0, 0, 1 if interlace else 0
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_codec_gated_formats():
    # unknown format bytes stay gated behind NotImplementedError
    with pytest.raises(NotImplementedError, match="codec library"):
        binary_ops.decode_image(b"II*\x00 not a supported format")
    # arithmetic coding (SOF9) stays gated; a baseline stream RELABELED
    # as progressive is malformed (its scan header violates G.1) and
    # must fail loudly rather than decode garbage
    from tests.jpeg_fixture import encode_baseline_jpeg

    arith = encode_baseline_jpeg(_rng_image(8, 8)).replace(
        b"\xff\xc0", b"\xff\xc9", 1
    )
    with pytest.raises(NotImplementedError, match="arithmetic"):
        binary_ops.decode_image(arith)
    fake_prog = encode_baseline_jpeg(_rng_image(8, 8)).replace(
        b"\xff\xc0", b"\xff\xc2", 1
    )
    with pytest.raises(ValueError, match="progressive band"):
        binary_ops.decode_image(fake_prog)
    # 16-bit PNG: a real variant this decoder doesn't cover
    deep = _encode_png(_rng_image(2, 2), [0])
    deep = deep.replace(struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0),
                        struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0), 1)
    with pytest.raises(NotImplementedError, match="PNG variant"):
        binary_ops.decode_image(deep)


def test_png_roundtrip_all_filters():
    arr = _rng_image(10, 7, seed=3)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        payload = _encode_png(arr, filters)
        got = binary_ops.decode_image(payload)
        assert np.array_equal(got, arr), f"filters={filters}"


def test_png_gray_and_alpha_variants():
    gray = np.random.RandomState(5).randint(0, 256, (6, 4), dtype=np.uint8)
    got = binary_ops.decode_image(_encode_png(gray, [0, 2]))
    assert got.shape == (6, 4, 3)
    assert np.array_equal(got[:, :, 0], gray)  # replicated channels
    rgba = np.random.RandomState(6).randint(0, 256, (5, 5, 4), dtype=np.uint8)
    got = binary_ops.decode_image(_encode_png(rgba, [4, 1]))
    assert np.array_equal(got, rgba[:, :, :3])  # alpha dropped


def test_ppm_roundtrip_and_header():
    arr = _rng_image(5, 7)
    payload = binary_ops.encode_ppm(arr)
    assert binary_ops.parse_image_header(payload)[:3] == ("ppm", 7, 5)
    assert np.array_equal(binary_ops.decode_image(payload), arr)


def test_bmp_decode_matches_source_pixels():
    arr = _rng_image(6, 5)  # width 5 -> row padding exercised
    payload = _bmp(arr)
    assert binary_ops.parse_image_header(payload)[:3] == ("bmp", 5, 6)
    assert np.array_equal(binary_ops.decode_image(payload), arr)


def test_resize_nearest_semantics():
    arr = _rng_image(8, 8)
    out = binary_ops.resize_nearest(arr, (4, 4))
    assert out.shape == (4, 4, 3)
    # center-sampling: output (0,0) takes source (1,1) for a 2x downscale
    assert np.array_equal(out[0, 0], arr[1, 1])
    up = binary_ops.resize_nearest(arr, (16, 16))
    assert up.shape == (16, 16, 3)
    assert np.array_equal(up[0, 0], arr[0, 0])


def test_resize_images_really_resamples(spark):
    arr = _rng_image(10, 10)
    df = literal_frame(
        spark,
        [(1, binary_ops.encode_ppm(arr)), (2, _bmp(arr)), (3, b"\x00" * 50)],
        "id long, payload binary",
    )
    out = {r.id: r for r in binary_ops.resize_images(df, target=(4, 6)).collect()}
    want = binary_ops.resize_nearest(arr, (4, 6))
    for i in (1, 2):  # both decodable formats -> identical resampled PPM
        got = binary_ops.decode_image(bytes(out[i].payload))
        assert got.shape == (6, 4, 3)
        assert np.array_equal(got, want)
    # non-decodable passthrough: unchanged bytes, honest metadata — the
    # recorded dims are the parsed SOURCE dims (null here: junk bytes have
    # no readable header), never the target the operator didn't apply
    assert bytes(out[3].payload) == b"\x00" * 50
    assert out[3].width is None and out[3].height is None
    assert out[3].resized is False
    assert out[1].resized is True and out[1].width == 4 and out[1].height == 6


def test_channel_stats_true_pixel_values(spark):
    arr = _rng_image(9, 4)
    df = literal_frame(
        spark,
        [(1, binary_ops.encode_ppm(arr)), (2, b"junk")],
        "id long, payload binary",
    )
    out = {r.id: r for r in binary_ops.channel_stats(df).collect()}
    a = arr.astype(np.float64)
    assert out[1].mean_r == round(float(a[:, :, 0].mean()), 4)
    assert out[1].mean_b == round(float(a[:, :, 2].mean()), 4)
    assert out[1].std_gray == round(float(a.mean(axis=2).std()), 4)
    assert out[1].width == 4 and out[1].height == 9
    assert out[2].mean_r is None  # junk -> null stats, batch survives


def test_repartition_for_payload(spark):
    df = literal_frame(
        spark,
        [(i, bytes(1024)) for i in range(100)], "id long, payload binary"
    ).withColumn("n_bytes", binary_ops.F.length("payload").cast("long"))
    out = binary_ops.repartition_for_payload(
        df, size_col_bytes="n_bytes", target_partition_mb=1
    )
    assert out.rdd.getNumPartitions() == 1  # 100KB << 1MB -> single partition


def test_resize_contract(spark):
    df = literal_frame(
        spark,
        [(1, b"\x00" * 100), (2, b"\xff" * 50)], "id long, payload binary"
    )
    out = binary_ops.resize_images(df, target=(64, 64)).collect()
    # junk payloads pass through unresized: null dims, resized=false
    assert all(r.width is None and r.height is None for r in out)
    assert all(r.resized is False for r in out)
    assert {r.id for r in out} == {1, 2}


def test_sample_frames_explodes_rows(spark):
    df = literal_frame(
        spark,
        [(1, bytes(range(256)) * 64)], "id long, payload binary"  # 16 KiB
    )
    out = binary_ops.sample_frames(df, every_n_bytes=4096, max_frames=8).collect()
    assert len(out) == 4  # 16 KiB / 4 KiB
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
    assert all(len(r.frame) == 4096 for r in out)


def test_jpeg_baseline_decode_matches_source():
    """Real baseline-JPEG decode (multimodal/jpeg.py): a spec-conformant
    encoder (tests/jpeg_fixture.py, Annex K tables) produces genuine
    entropy-coded streams; decode must recover the source within normal
    quantization loss for 4:4:4, 4:2:0 (odd dims), grayscale, and
    restart-marker streams."""
    from tests.jpeg_fixture import encode_baseline_jpeg

    solid = np.full((16, 24, 3), [120, 60, 200], dtype=np.uint8)
    yy, xx = np.mgrid[0:40, 0:56]
    grad = np.stack(
        [yy * 255 // 40, xx * 255 // 56, (yy + xx) * 255 // 96], axis=2
    ).astype(np.uint8)

    for ss in ("444", "420"):
        out = binary_ops.decode_image(encode_baseline_jpeg(solid, subsampling=ss))
        assert out.shape == solid.shape
        assert np.abs(out.astype(int) - solid.astype(int)).max() <= 2

        out = binary_ops.decode_image(encode_baseline_jpeg(grad, subsampling=ss))
        assert out.shape == grad.shape
        assert np.abs(out.astype(int) - grad.astype(int)).mean() < 4.0

    g = (yy * 255 // 40).astype(np.uint8)
    out = binary_ops.decode_image(encode_baseline_jpeg(g, subsampling="gray"))
    assert out.shape == (40, 56, 3)
    assert np.abs(out[:, :, 0].astype(int) - g).mean() < 2.0
    assert np.array_equal(out[:, :, 0], out[:, :, 1])  # replicated channels

    # odd (non-MCU-aligned) dims + restart markers decode identically
    odd = (_rng_image(17, 13) // 4 + 100).astype(np.uint8)
    plain = binary_ops.decode_image(encode_baseline_jpeg(odd, subsampling="420"))
    rst = binary_ops.decode_image(
        encode_baseline_jpeg(odd, subsampling="420", restart_interval=1)
    )
    assert plain.shape == odd.shape
    assert np.array_equal(plain, rst)


def test_resize_images_handles_real_jpeg(spark):
    """The formerly codec-gated path end-to-end in Spark: a real JPEG
    payload is decoded, resampled, and re-encoded with resized=true."""
    from tests.jpeg_fixture import encode_baseline_jpeg

    img = np.full((32, 48, 3), [200, 30, 90], dtype=np.uint8)
    df = literal_frame(
        spark,
        [(1, encode_baseline_jpeg(img)), (2, _gif(4, 4))],
        "id long, payload binary",
    )
    out = {r.id: r for r in binary_ops.resize_images(df, target=(8, 8)).collect()}
    assert out[1].resized is True
    assert (out[1].width, out[1].height) == (8, 8)
    decoded = binary_ops.decode_image(bytes(out[1].payload))
    assert decoded.shape == (8, 8, 3)
    assert np.abs(decoded.astype(int) - img[0, 0].astype(int)).max() <= 2
    # the GIF stays a pass-through with parsed source dims
    assert out[2].resized is False and (out[2].width, out[2].height) == (4, 4)


def test_image_meta_parses_real_jpeg(spark):
    from tests.jpeg_fixture import encode_baseline_jpeg

    payload = encode_baseline_jpeg(_rng_image(24, 36))
    df = literal_frame(spark, [(1, payload)], "id long, payload binary")
    meta = binary_ops.with_image_meta(df).collect()[0].meta
    assert (meta.format, meta.width, meta.height) == ("jpeg", 36, 24)


def test_jpeg_422_and_truncation_robustness():
    """4:2:2 chroma subsampling decodes within normal loss, and truncated
    payloads fail FAST with a clean error at any cut point (a corrupt
    crawl payload must never hang an executor)."""
    from tests.jpeg_fixture import encode_baseline_jpeg

    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack(
        [yy * 255 // 24, xx * 255 // 40, (yy + xx) * 255 // 64], axis=2
    ).astype(np.uint8)
    payload = encode_baseline_jpeg(img, subsampling="422")
    out = binary_ops.decode_image(payload)
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 4.0

    for frac in (0.05, 0.3, 0.6, 0.9):
        cut = payload[: int(len(payload) * frac)]
        try:
            got = binary_ops.decode_image(cut)
            # a cut inside the entropy tail can still decode (1-bit fill)
            assert got.shape == img.shape
        except (ValueError, NotImplementedError, IndexError, KeyError):
            pass  # clean, typed failure — the contract


def test_png_palette_decode():
    """Indexed-color (type 3) PNG resolves through the PLTE table."""
    import struct as _s
    import zlib

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 128), (7, 7, 7)]
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0], [1, 1, 3, 0]], np.uint8)
    h, w = idx.shape
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(h))

    def chunk(ctype, data):
        return (
            _s.pack(">I", len(data)) + ctype + data
            + _s.pack(">I", zlib.crc32(ctype + data))
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", b"".join(bytes(c) for c in pal))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    got = binary_ops.decode_image(payload)
    expect = np.array(pal, np.uint8)[idx]
    assert np.array_equal(got, expect)


def test_png_adam7_roundtrip_shapes_and_filters():
    """Adam7 deinterlace: every filter type, plus sizes that leave some
    passes empty (w or h < pass offset) and the 1x1 degenerate case."""
    for (h, w) in ((10, 7), (8, 8), (3, 2), (1, 1), (9, 16), (2, 9)):
        arr = _rng_image(h, w, seed=h * 100 + w)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            payload = _encode_png(arr, filters, interlace=True)
            got = binary_ops.decode_image(payload)
            assert np.array_equal(got, arr), f"{h}x{w} filters={filters}"


def test_png_adam7_matches_noninterlaced():
    arr = _rng_image(12, 11, seed=42)
    a = binary_ops.decode_image(_encode_png(arr, [0, 1, 2, 3, 4]))
    b = binary_ops.decode_image(
        _encode_png(arr, [4, 3, 2, 1, 0], interlace=True)
    )
    assert np.array_equal(a, b)


def test_png_adam7_gray_and_rgba():
    gray = np.random.RandomState(9).randint(0, 256, (7, 5), dtype=np.uint8)
    got = binary_ops.decode_image(_encode_png(gray, [2, 4], interlace=True))
    assert got.shape == (7, 5, 3) and np.array_equal(got[:, :, 1], gray)
    rgba = np.random.RandomState(10).randint(0, 256, (6, 9, 4), dtype=np.uint8)
    got = binary_ops.decode_image(_encode_png(rgba, [3, 1], interlace=True))
    assert np.array_equal(got, rgba[:, :, :3])


def test_gif_roundtrip_palette_and_width_growth():
    """256-color random 48x40 stream crosses several LZW width
    boundaries; 4-color exercises mcs=2."""
    from tests.gif_fixture import encode_gif

    rng = np.random.RandomState(11)
    for ncolors, h, w in ((256, 48, 40), (4, 9, 7), (16, 23, 17)):
        pal = rng.randint(0, 256, (ncolors, 3), dtype=np.uint8)
        rows = rng.randint(0, ncolors, (h, w)).astype(np.uint8)
        got = binary_ops.decode_image(encode_gif(rows, pal))
        assert np.array_equal(got, pal[rows])


def test_gif_interlaced_and_extensions():
    from tests.gif_fixture import encode_gif

    rng = np.random.RandomState(12)
    pal = rng.randint(0, 256, (8, 3), dtype=np.uint8)
    rows = rng.randint(0, 8, (13, 6)).astype(np.uint8)
    payload = encode_gif(rows, pal, interlace=True, with_extension=True)
    assert binary_ops.parse_image_header(payload)[:3] == ("gif", 6, 13)
    got = binary_ops.decode_image(payload)
    assert np.array_equal(got, pal[rows])


def test_gif_kwkwk_and_repetitive_streams():
    """Highly repetitive indices hit the KwKwK code-equals-table-size
    case; a long constant run also stresses dictionary chains."""
    from tests.gif_fixture import encode_gif

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    rows = np.zeros((64, 64), dtype=np.uint8)
    rows[::2] = 1
    got = binary_ops.decode_image(encode_gif(rows, pal))
    assert np.array_equal(got, pal[rows])
    # aaa bbb aaa... periodic pattern
    rows2 = (np.arange(64 * 33) // 3 % 2).astype(np.uint8).reshape(33, 64)
    got2 = binary_ops.decode_image(encode_gif(rows2, pal))
    assert np.array_equal(got2, pal[rows2])


def test_gif_gif87a_version():
    from tests.gif_fixture import encode_gif

    pal = np.array([[10, 20, 30], [40, 50, 60], [1, 2, 3], [9, 9, 9]],
                   dtype=np.uint8)
    rows = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)
    got = binary_ops.decode_image(encode_gif(rows, pal, version=b"GIF87a"))
    assert np.array_equal(got, pal[rows])


def test_gif_malformed_raises_value_error():
    with pytest.raises(ValueError):
        binary_ops.decode_image(_gif(4, 4))  # header-only stub


def test_progressive_jpeg_equals_baseline_decode():
    """Progressive scans deliver the SAME coefficients as baseline, so
    the decoded pixels must be identical — both scan scripts, all
    subsamplings, odd shapes (empty-band/partial-MCU edges)."""
    from tests.jpeg_fixture import encode_baseline_jpeg, encode_progressive_jpeg

    for (h, w) in ((17, 23), (8, 8), (1, 1), (9, 33)):
        arr = _rng_image(h, w, seed=h * 31 + w)
        for ss in ("444", "420", "422", "gray"):
            base = binary_ops.decode_image(
                encode_baseline_jpeg(arr, subsampling=ss)
            )
            for script in ("spectral", "sa"):
                got = binary_ops.decode_image(
                    encode_progressive_jpeg(arr, subsampling=ss, script=script)
                )
                assert np.array_equal(got, base), (h, w, ss, script)


def test_progressive_jpeg_eob_runs_on_smooth_images():
    """Smooth gradients quantize to mostly-zero AC blocks — long EOB
    runs (EOBn > EOB0) plus the buffered-correction-bit refinement path."""
    from tests.jpeg_fixture import encode_baseline_jpeg, encode_progressive_jpeg

    yy, xx = np.mgrid[0:40, 0:56]
    smooth = np.stack(
        [(yy * 2 + xx) % 256, (xx * 3) % 256, (yy + 128) % 256], axis=2
    ).astype(np.uint8)
    base = binary_ops.decode_image(encode_baseline_jpeg(smooth))
    for script in ("spectral", "sa"):
        got = binary_ops.decode_image(
            encode_progressive_jpeg(smooth, script=script)
        )
        assert np.array_equal(got, base), script
    # constant image: every AC block is one long EOB run
    flat = np.full((24, 24, 3), 77, dtype=np.uint8)
    base = binary_ops.decode_image(encode_baseline_jpeg(flat))
    got = binary_ops.decode_image(encode_progressive_jpeg(flat, script="sa"))
    assert np.array_equal(got, base)


def test_truncated_compressed_payloads_fail_cleanly():
    """Truncation must raise (ValueError/NotImplementedError), never hang
    or return garbage silently — the resize/feature paths rely on this
    contract to pass malformed payloads through."""
    from tests.gif_fixture import encode_gif
    from tests.jpeg_fixture import encode_progressive_jpeg

    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    rows = rng.randint(0, 16, (12, 12)).astype(np.uint8)
    gif = encode_gif(rows, pal)
    prog = encode_progressive_jpeg(_rng_image(16, 16))
    png = _encode_png(_rng_image(8, 8), [1, 2], interlace=True)
    for payload in (gif, prog, png):
        for cut in (len(payload) // 4, len(payload) // 2, len(payload) - 3):
            try:
                out = binary_ops.decode_image(payload[:cut])
                # a decode that "succeeds" on a truncated stream must at
                # least produce the declared canvas, never crash later
                assert out.ndim == 3 and out.shape[2] == 3
            except (ValueError, NotImplementedError, IndexError):
                pass


def test_dhash_stable_and_noise_tolerant():
    base = _rng_image(64, 64, seed=11)
    h1 = binary_ops.dhash64(base)
    assert h1 == binary_ops.dhash64(base.copy())  # deterministic
    # tiny localized noise: most gradient signs survive
    noisy = base.copy()
    noisy[0:2, 0:2] = 255 - noisy[0:2, 0:2]
    h2 = binary_ops.dhash64(noisy)
    assert bin(h1 ^ h2).count("1") <= 6
    # a different image is far away
    other = binary_ops.dhash64(_rng_image(64, 64, seed=99))
    assert bin(h1 ^ other).count("1") > 10


def test_near_dup_images_banded_blocking(spark):
    base = _rng_image(48, 48, seed=5)
    noisy = base.copy()
    noisy[0, 0] = 255 - noisy[0, 0]
    other = _rng_image(48, 48, seed=77)
    df = literal_frame(
        spark,
        [(1, _bmp(base)), (2, _bmp(noisy)), (3, _bmp(other)),
         (4, b"\xff\xd8\xff\xe0 jpeg-gated")],
        "id long, payload binary",
    )
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in binary_ops.near_dup_images(df, max_hamming=3).collect()}
    assert (1, 2) in pairs          # planted near-dup found via band join
    assert all(k == (1, 2) for k in pairs)  # distinct image not paired
    # plan: equi-join on band keys, never a cartesian
    plan = binary_ops.near_dup_images(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
