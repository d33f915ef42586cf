"""Multimodal (image/audio/video) column plumbing, and the one payload
mapper the image, audio and video operators share.

Media lives in opaque ``binary`` columns with a typed metadata struct
alongside. Every operator that reads payloads runs through
:func:`map_payloads`, the tier's single ``mapInPandas`` call: payloads
cross the JVM<->Python boundary in whole Arrow batches, and an operator
supplies only its per-payload work (one payload in, its output tuples
out).

Undecodable payloads: decoders keep one error contract
(:func:`payload_decoder`) — ``ValueError`` for a malformed payload, a
NULL one included, and ``NotImplementedError`` for a codec-gated one.
``map_payloads`` catches exactly those two and emits the operator's
fallback rows instead: none for the row-exploding operators, nulls with
``ok=false`` for the feature operators, the untouched payload for
``resize_images``. One bad row never fails the Spark task.

Codec policy: PPM (P6), 24-bit BMP, 8-bit PNG (non-interlaced and Adam7),
baseline and progressive JPEG (``jpeg.py``) and first-frame GIF decode
with numpy + stdlib. Formats that need an external library (arithmetic
JPEG, exotic PNG variants) parse their headers and raise
``NotImplementedError`` naming the library on pixel decode.

Scale notes: binary payloads make *row size*, not row count, the planning
unit. ``repartition_for_payload`` sizes partitions by payload bytes.
Never groupBy/shuffle the binary column itself — project metadata out
first and join back by key if regrouping is needed.
"""

from __future__ import annotations

import functools
import struct
from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# integer Spark types build as nullable pandas arrays (see payload_frame)
_NULLABLE_INTS = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
}


def payload_decoder(decode: Callable) -> Callable:
    """Give a payload decoder the error contract :func:`map_payloads`
    relies on: ``ValueError`` for a malformed payload (NULL included),
    ``NotImplementedError`` for a codec-gated one. Corrupt bytes trip a
    codec wherever its parse happens to be (a KeyError on a missing
    table, an IndexError past a truncated buffer, struct/zlib errors,
    StopIteration...). The payload is input from outside the program, so
    whatever a codec raises over its bytes is a property of the bytes:
    it becomes ``ValueError``, chained to the original."""

    @functools.wraps(decode)
    def guarded(payload, *args, **kwargs):
        if payload is None:
            raise ValueError("NULL payload")
        try:
            return decode(payload, *args, **kwargs)
        except Exception as e:
            if isinstance(e, (NotImplementedError, ValueError)):
                raise
            raise ValueError(f"corrupt or truncated payload: {e!r}") from e

    return guarded


def payload_frame(rows: Sequence[tuple], fields: Sequence[T.StructField]) -> pd.DataFrame:
    """One pandas batch from output tuples, typed by the Spark fields.

    Integer fields build as nullable ``Int8``..``Int64`` arrays. Left to
    inference, a single None widens an integer column to float64, which
    rounds every 64-bit value in the batch past 2**53 (a perceptual hash
    next to an undecodable payload loses its low bits)."""
    data = {}
    for f, col in zip(fields, list(zip(*rows)) or [()] * len(fields)):
        dtype = _NULLABLE_INTS.get(type(f.dataType))
        data[f.name] = pd.array(col, dtype=dtype) if dtype else list(col)
    return pd.DataFrame(data)


def map_payloads(
    df: DataFrame,
    schema: T.StructType | str,
    rows_of: Callable[[bytes | None], Iterable[tuple]],
    *,
    binary_col: str = "payload",
    keep: Sequence[str] = (),
    on_undecodable: Callable[[bytes | None], Iterable[tuple]] = lambda p: (),
) -> DataFrame:
    """Map every payload of ``binary_col`` to output rows, Arrow-batched.

    ``schema`` is the output schema (a StructType or DDL string). Its
    first ``len(keep)`` fields take the values of the input columns
    ``keep``, copied onto every output row of the payload (renamed to
    the schema's names). ``rows_of(payload)`` returns the payload's rows
    (zero or more) as tuples of the remaining fields. When it raises
    ``ValueError`` or ``NotImplementedError`` — an undecodable payload,
    see :func:`payload_decoder` — the payload's rows are
    ``on_undecodable(payload)`` instead (default: none)."""
    out = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    keep = list(keep)
    made = out.fields[len(keep) :]

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            at, rows = [], []
            for i, payload in enumerate(pdf[binary_col]):
                try:
                    got = list(rows_of(payload))
                except (NotImplementedError, ValueError):
                    got = list(on_undecodable(payload))
                at += [i] * len(got)
                rows += got
            kept = pdf[keep].iloc[at].reset_index(drop=True)
            kept.columns = out.names[: len(keep)]
            yield pd.concat([kept, payload_frame(rows, made)], axis=1)

    return df.mapInPandas(batches, out)


def with_header_meta(
    df: DataFrame,
    binary_col: str,
    meta_schema: T.StructType,
    parse: Callable[[bytes | None], tuple],
) -> DataFrame:
    """Every input column plus ``meta``, the struct ``parse`` reads from
    the payload's header (in ``meta_schema`` field order)."""
    return map_payloads(
        df,
        T.StructType(df.schema.fields + [T.StructField("meta", meta_schema)]),
        lambda p: [(dict(zip(meta_schema.names, parse(p))),)],
        binary_col=binary_col,
        keep=df.columns,
    )


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def parse_image_header(payload: bytes | None) -> tuple[str | None, int | None, int | None, int]:
    """Pure-Python PNG/JPEG/GIF header sniff — the honest part of decode
    that needs no codec library."""
    if not payload:
        return None, None, None, 0
    n = len(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and n >= 24:
        w, h = struct.unpack(">II", payload[16:24])
        return "png", w, h, n
    if payload[:3] == b"GIF" and n >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return "gif", w, h, n
    if payload[:2] == b"P6" and payload[2:3] in b" \t\r\n":
        try:
            w, h, _, _ = _parse_ppm_header(payload)
            return "ppm", w, h, n
        except ValueError:
            return "ppm", None, None, n
    if payload[:2] == b"BM" and n >= 26:
        w, h = struct.unpack("<ii", payload[18:26])
        return "bmp", w, abs(h), n
    if payload[:2] == b"\xff\xd8":  # JPEG: walk segments to SOF0/2
        i = 2
        while i + 9 < n:
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker in (0xC0, 0xC2):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return "jpeg", w, h, n
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return "jpeg", None, None, n
    return "unknown", None, None, n


def with_image_meta(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Attach the typed image metadata struct ``meta`` by header-sniffing
    the payload; every input column passes through."""
    return with_header_meta(df, binary_col, IMAGE_META_SCHEMA, parse_image_header)


def _parse_ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """(width, height, maxval, data_offset) of a binary PPM (P6).

    The header is ASCII tokens (magic, width, height, maxval) separated by
    whitespace/comments, then ONE whitespace byte before raw RGB data.
    """
    tokens: list[int] = []
    i = 2  # past b"P6"
    n = len(payload)
    while len(tokens) < 3 and i < n:
        c = payload[i : i + 1]
        if c == b"#":  # comment to end of line
            while i < n and payload[i : i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < n and payload[j : j + 1].isdigit():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
        else:
            raise ValueError(f"bad PPM header byte {c!r} at {i}")
    if len(tokens) < 3 or i >= n:
        raise ValueError("truncated PPM header")
    return tokens[0], tokens[1], tokens[2], i + 1  # +1: the single ws byte


def _unfilter_rows(raw: bytes, start: int, rows: int, stride: int, ch: int):
    """Invert PNG scanline filters for one (sub-)image: ``rows`` scanlines
    of ``stride`` bytes each, starting at byte ``start`` of the inflated
    stream (each scanline is prefixed by its filter-type byte; the Up/
    Average/Paeth ``prev`` row starts as zeros — per the spec each
    interlace pass filters independently). Returns (ndarray(rows, stride),
    next offset). Up/None invert vectorized; Sub/Average/Paeth are
    sequential in x by definition (each byte depends on the reconstructed
    left neighbor), so those rows take a Python loop — fine for the
    thumbnail/feature-extraction sizes this path serves."""
    import numpy as np

    out = np.zeros((rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    i = start
    for r in range(rows):
        ft = raw[i]
        line = np.frombuffer(raw, np.uint8, stride, i + 1).copy()
        i += 1 + stride
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = line + prev  # uint8 wraparound == mod-256 add
        elif ft == 1:  # Sub
            cur = line
            for x in range(ch, stride):
                cur[x] = (int(cur[x]) + int(cur[x - ch])) % 256
        elif ft == 3:  # Average
            cur = line
            for x in range(stride):
                left = int(cur[x - ch]) if x >= ch else 0
                cur[x] = (int(line[x]) + (left + int(prev[x])) // 2) % 256
        elif ft == 4:  # Paeth
            cur = line
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = cur
        prev = cur
    return out, i


# Adam7 pass grid: (x_start, y_start, x_step, y_step), PNG spec §8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _decode_png(payload: bytes) -> "object":
    """Minimal PNG decode: 8-bit gray/RGB/RGBA/palette, non-interlaced or
    Adam7-interlaced.

    PNG's compression is plain zlib (stdlib) over filtered scanlines, so
    no codec library is needed — only the five per-row filters (None/Sub/
    Up/Average/Paeth) have to be inverted (_unfilter_rows). An Adam7
    stream is 7 independently-filtered reduced images scattered over a
    fixed pass grid. Returns RGB (alpha dropped, gray replicated) for a
    uniform contract.
    """
    import zlib

    import numpy as np

    w = h = None
    depth = color = interlace = None
    idat = b""
    plte = None
    pos = 8  # past signature
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if w is None:
        raise ValueError("no IHDR chunk")
    if depth != 8 or color not in (0, 2, 3, 6) or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG variant not supported without a codec lib (bit_depth="
            f"{depth}, color_type={color}, interlace={interlace}) — "
            "8-bit gray/RGB/RGBA/palette, none/Adam7 interlace here"
        )
    if color == 3 and plte is None:
        raise ValueError("palette PNG without a PLTE chunk")
    ch = {0: 1, 2: 3, 3: 1, 6: 4}[color]
    raw = zlib.decompress(idat)
    if interlace == 0:
        flat, _ = _unfilter_rows(raw, 0, h, w * ch, ch)
        arr = flat.reshape(h, w, ch)
    else:  # Adam7: 7 independently-filtered reduced images, scattered
        arr = np.zeros((h, w, ch), dtype=np.uint8)
        i = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue  # pass empty for this image size: no scanlines
            sub, i = _unfilter_rows(raw, i, hp, wp * ch, ch)
            arr[y0::dy, x0::dx, :] = sub.reshape(hp, wp, ch)
    if color == 3:  # indexed: one table gather resolves the palette
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        return pal[arr[:, :, 0]].copy()
    if ch == 1:
        arr = np.repeat(arr, 3, axis=2)
    elif ch == 4:
        arr = arr[:, :, :3]
    return arr.copy()


def _lzw_decode(data: bytes, min_code_size: int) -> bytearray:
    """GIF-flavor LZW: variable-width codes, LSB-first bit packing,
    clear/end codes, width grows when the table reaches 2^width (capped
    at 12 bits per the spec). Returns the index stream."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    bitpos = 0
    nbits = len(data) * 8

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while bitpos + width <= nbits:
        byte0 = bitpos >> 3
        chunk = int.from_bytes(data[byte0 : byte0 + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} beyond table")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


# GIF interlace passes: (row_start, row_step)
_GIF_INTERLACE = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _decode_gif(payload: bytes) -> "object":
    """First-frame GIF decode (87a/89a): global/local color table, LZW
    index stream (pure-python, spec width rules), 4-pass interlace.
    Extensions (incl. transparency) are skipped — the frame renders as
    its palette colors, which is the right contract for feature
    extraction. Returns ndarray(h, w, 3) uint8."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        gct = payload[pos : pos + n]
        pos += n
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _, _, w, h = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
            ipacked = payload[pos + 9]
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 3 * (2 << (ipacked & 0x07))
                ct = payload[pos : pos + n]
                pos += n
            if ct is None:
                raise ValueError("GIF frame without a color table")
            mcs = payload[pos]
            pos += 1
            stream = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                stream += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = np.frombuffer(
                bytes(_lzw_decode(bytes(stream), mcs)[: w * h]), np.uint8
            )
            if len(idx) < w * h:
                raise ValueError("truncated GIF index stream")
            rows = idx.reshape(h, w)
            if ipacked & 0x40:  # interlaced: scatter the 4 passes
                out_rows = np.zeros_like(rows)
                r = 0
                for start, step in _GIF_INTERLACE:
                    n_rows = len(range(start, h, step))
                    out_rows[start::step] = rows[r : r + n_rows]
                    r += n_rows
                rows = out_rows
            pal = np.frombuffer(ct, np.uint8).reshape(-1, 3)
            return pal[rows].copy()
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{b0:02x}")
    raise ValueError("GIF contains no image frame")


@payload_decoder
def decode_image(payload: bytes) -> "object":
    """Pixel decode to ndarray(h, w, 3) uint8 — pure numpy/stdlib, no
    codec libs.

    Real decode paths: PPM (P6), 24-bit uncompressed BMP (bottom-up or
    top-down, 4-byte row padding, BGR->RGB), 8-bit non-interlaced or
    Adam7 PNG (zlib is stdlib; the five scanline filters are inverted
    here), baseline and progressive JPEG (multimodal/jpeg.py — Huffman +
    IDCT in numpy), and first-frame GIF (pure-python LZW). Exotic JPEG
    and PNG variants raise NotImplementedError naming the required
    library — the same signature a PIL-backed decode slots into. A
    malformed payload raises ValueError (:func:`payload_decoder`).
    """
    import numpy as np

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        from etl_bigquery_pipeline_spark.multimodal.jpeg import (
            decode_baseline_jpeg,
        )

        return decode_baseline_jpeg(payload)
    if payload[:2] == b"P6":
        w, h, maxval, off = _parse_ppm_header(payload)
        if maxval > 255:
            raise NotImplementedError("16-bit PPM not supported")
        arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=off)
        return arr.reshape(h, w, 3).copy()
    if payload[:2] == b"BM":
        data_off = struct.unpack("<I", payload[10:14])[0]
        w, h_signed = struct.unpack("<ii", payload[18:26])
        bpp = struct.unpack("<H", payload[28:30])[0]
        compression = struct.unpack("<I", payload[30:34])[0]
        if bpp != 24 or compression != 0:
            raise NotImplementedError(
                f"only 24-bit uncompressed BMP decodes here (bpp={bpp}, "
                f"compression={compression})"
            )
        h = abs(h_signed)
        row_bytes = (w * 3 + 3) // 4 * 4  # rows pad to 4-byte boundaries
        raw = np.frombuffer(
            payload, dtype=np.uint8, count=row_bytes * h, offset=data_off
        ).reshape(h, row_bytes)
        rgb = raw[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        if h_signed > 0:  # positive height = bottom-up row order
            rgb = rgb[::-1]
        return rgb.copy()
    fmt = parse_image_header(payload)[0]
    raise NotImplementedError(
        f"decoding {fmt!r} needs a codec library (PIL/opencv) — "
        "PPM/BMP/8-bit-PNG decode without one"
    )


def encode_ppm(arr: "object") -> bytes:
    """ndarray(h, w, 3) uint8 -> binary PPM (P6) bytes. The re-encode
    target for decode->transform->write pipelines (PPM is the simplest
    lossless interchange that round-trips without a codec library)."""
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype("uint8").tobytes()


FEATURE_SCHEMA = "id long, feature array<float>"


def extract_features(
    df: DataFrame, *, id_col: str = "id", binary_col: str = "payload", dim: int = 8
) -> DataFrame:
    """Deterministic fake feature extractor with the real contract.

    Stands in for a model-embedding step: consumes Arrow batches of binary
    payloads, emits (id, feature array<float>). The fake derives features
    from byte statistics so tests get stable values; a real model swaps the
    body, not the plumbing. A NULL payload featurizes as an empty one.
    """

    def featurize(p: bytes | None) -> list[tuple]:
        p = p or b""
        # chunk byte-sums -> fixed-dim vector, normalized
        return [([float(sum(p[i::dim]) % 997) / 997.0 for i in range(dim)],)]

    return map_payloads(
        df, FEATURE_SCHEMA, featurize, binary_col=binary_col, keep=[id_col]
    )


def repartition_for_payload(
    df: DataFrame, *, size_col_bytes: str, target_partition_mb: int = 256
) -> DataFrame:
    """Repartition so each partition holds ~target MB of payload — row
    count is meaningless when rows carry multi-MB media."""
    total = df.agg(F.sum(size_col_bytes)).first()[0] or 0
    n = max(1, int(total / (target_partition_mb * 1024 * 1024)))
    return df.repartition(n)


RESIZE_SCHEMA = (
    "id long, payload binary, width int, height int, resized boolean"
)


def resize_nearest(arr: "object", target: tuple[int, int]) -> "object":
    """Nearest-neighbor resample of ndarray(h, w, 3) to (target_w,
    target_h) — two integer index gathers, fully vectorized, deterministic
    (matches PIL's NEAREST up to its center-sampling convention, which we
    replicate: source index = floor((i + 0.5) * src/dst))."""
    import numpy as np

    tw, th = target
    sh, sw = arr.shape[0], arr.shape[1]
    rows = np.minimum(((np.arange(th) + 0.5) * sh / th).astype(int), sh - 1)
    cols = np.minimum(((np.arange(tw) + 0.5) * sw / tw).astype(int), sw - 1)
    return arr[rows][:, cols]


def resize_images(
    df: DataFrame,
    *,
    id_col: str = "id",
    binary_col: str = "payload",
    target: tuple[int, int] = (224, 224),
) -> DataFrame:
    """Resize step: (id, payload, width, height) out, Arrow-batched.

    Decodable payloads are REALLY resampled (vectorized
    nearest-neighbor), re-encoded as PPM, and emitted with the target
    dimensions and ``resized=true``. Undecodable payloads (codec-gated,
    malformed or NULL) pass through UNCHANGED — with their *parsed source* dimensions (header probe; null
    when even the header is unreadable) and ``resized=false``, so
    downstream consumers can distinguish resized rows from pass-throughs
    instead of trusting dimensions the operator never produced. Swap the
    inner body for PIL to widen the matrix; the plan shape (Arrow
    batches, payload-sized partitions) is identical either way.
    """
    w, h = target

    def resize(p: bytes | None) -> list[tuple]:
        return [(encode_ppm(resize_nearest(decode_image(p), target)), w, h, True)]

    def pass_through(p: bytes | None) -> list[tuple]:
        _, src_w, src_h, _ = parse_image_header(p)
        return [(p, src_w, src_h, False)]

    return map_payloads(
        df,
        RESIZE_SCHEMA,
        resize,
        binary_col=binary_col,
        keep=[id_col],
        on_undecodable=pass_through,
    )


CHANNEL_STATS_SCHEMA = (
    "id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double, std_gray double"
)


def channel_stats(
    df: DataFrame, *, id_col: str = "id", binary_col: str = "payload"
) -> DataFrame:
    """TRUE pixel statistics for decodable payloads: per-channel means and
    grayscale std from the actual decoded array — the simplest real
    feature extraction (brightness/contrast filters for image curation,
    the multimodal twin of text quality_score). Non-decodable payloads
    yield null stats instead of failing the batch."""
    import numpy as np

    def stats(p: bytes | None) -> list[tuple]:
        arr = decode_image(p).astype(np.float64)
        means = [round(float(m), 4) for m in arr.mean(axis=(0, 1))]
        gray_std = round(float(arr.mean(axis=2).std()), 4)
        return [(arr.shape[1], arr.shape[0], *means, gray_std)]

    return map_payloads(
        df,
        CHANNEL_STATS_SCHEMA,
        stats,
        binary_col=binary_col,
        keep=[id_col],
        on_undecodable=lambda p: [(None,) * 6],
    )


FRAME_SCHEMA = "id long, frame_idx int, frame binary"


def sample_frames(
    df: DataFrame,
    *,
    id_col: str = "id",
    binary_col: str = "payload",
    every_n_bytes: int = 4096,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling contract for video payloads: one output row per
    sampled frame (id, frame_idx, frame). Without ffmpeg the "frames" are
    deterministic byte windows — the row-explosion shape (rows out >> rows
    in, payload sliced not copied whole) is the part that matters for the
    Spark plan, and it is real.
    """

    def frames(p: bytes | None) -> list[tuple]:
        p = p or b""
        n = min(max_frames, max(1, len(p) // every_n_bytes))
        return [(k, p[k * every_n_bytes : (k + 1) * every_n_bytes]) for k in range(n)]

    return map_payloads(df, FRAME_SCHEMA, frames, binary_col=binary_col, keep=[id_col])


def dhash64(arr: "object") -> int:
    """64-bit difference hash (dHash, public technique): grayscale,
    nearest-resample to 9x8, emit one bit per horizontal gradient sign.
    Robust to resizing/re-encoding/small noise; Hamming distance between
    hashes approximates visual distance. Pure numpy, deterministic."""
    import numpy as np

    gray = arr.astype("float64") @ np.array([0.299, 0.587, 0.114])
    g = resize_nearest(gray[..., None].repeat(3, axis=2), (9, 8))[..., 0]
    bits = (g[:, 1:] > g[:, :-1]).astype(np.uint64).reshape(-1)
    out = np.uint64(0)
    for b in bits:
        out = (out << np.uint64(1)) | b
    return int(out)


def with_perceptual_hash(
    df: DataFrame, *, id_col: str = "id", binary_col: str = "payload"
) -> DataFrame:
    """(id, phash bigint, ok) per image payload — Arrow-batched dHash.
    Codec-gated payloads yield null/ok=false. The signed bigint carries
    the raw 64 bits (two's complement); band extraction and Hamming
    distance below operate bitwise, so signedness is irrelevant."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("phash", T.LongType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )

    def phash(p: bytes | None) -> list[tuple]:
        h = dhash64(decode_image(p))
        # two's-complement into signed int64
        return [(h - (1 << 64) if h >= (1 << 63) else h, True)]

    return map_payloads(
        df,
        out_schema,
        phash,
        binary_col=binary_col,
        keep=[id_col],
        on_undecodable=lambda p: [(None, False)],
    )


def near_dup_images(
    df: DataFrame,
    *,
    id_col: str = "id",
    binary_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-dup pairs via banded perceptual-hash blocking — the
    multimodal twin of SimHash text dedup: the 64-bit dHash splits into
    four 16-bit bands; by pigeonhole, any pair within Hamming distance 3
    shares at least one intact band, so candidates come from 4 band-key
    equi-joins (never all-pairs) and are verified with an exact popcount.
    Returns (id_a, id_b, hamming). Scale shape: decode once per image
    (Arrow batches), shuffle only (band-key, id) rows + 8-byte hashes."""
    hashed = with_perceptual_hash(df, id_col=id_col, binary_col=binary_col)
    hashed = hashed.filter(F.col("ok")).select(F.col(id_col).alias("__id"), "phash")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("phash"), i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_val"),
            )
            for i in range(4)
        ]
    )
    bands = hashed.select(
        "__id", "phash", F.explode(band_structs).alias("__b")
    ).select(
        "__id", "phash", F.col("__b.band").alias("band"),
        F.col("__b.band_val").alias("band_val"),
    )
    a = bands.select(
        F.col("__id").alias("id_a"), F.col("phash").alias("ha"), "band", "band_val"
    )
    b = bands.select(
        F.col("__id").alias("id_b"), F.col("phash").alias("hb"), "band", "band_val"
    )
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
    )
