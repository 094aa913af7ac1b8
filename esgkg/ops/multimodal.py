"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs over mapInPandas.

`decode_image` natively decodes 24-bit BMP, 8-bit non-interlaced PNG, and
GIF (stdlib LZW + palette, first frame) — pure stdlib+numpy — and parses
dimensions from the JPEG SOF header and the WebP VP8/VP8L/VP8X chunk
headers; formats beyond that raise NotImplementedError (no image/audio
libraries in this container). The `extract_*` operators pick the decoder
per row: rows whose `meta['codec']` is 'fake' (the opaque payloads of
`synth_media`) go through a deterministic synthetic decoder, every other
row through the native one. Everything Spark-side — schema, partitioning,
UDF signature, Arrow batch shape — is real and tested; swapping in
PIL/librosa is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session

MEDIA_SEED = 42  # synth_media's payload hash seed (the q15 golden's too)
# payload caps of the native decoders (`_check_payload_size`)
MAX_IMAGE_BYTES = 64 * 1024 * 1024
MAX_AUDIO_BYTES = 256 * 1024 * 1024
MAX_VIDEO_BYTES = 1024 * 1024 * 1024

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),   # image|audio|video
        T.StructField("payload", T.BinaryType(), True), # opaque bytes
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def synth_media(spark: SparkSession, n: int,
                kind: str | None = None) -> DataFrame:
    """Deterministic opaque-binary media table for plumbing tests.

    `kind` restricts generation to one media kind by filtering the id range
    BEFORE the python generator (kind is a pure function of the id:
    id % 3), so callers that need only e.g. the audio rows don't pay for
    generating the other two thirds — the surviving rows are byte-identical
    to filtering the full table afterwards (round-6 wiring; q33/q34)."""
    _session.ensure_shipped(spark)
    id_range = spark.range(n)
    if kind is not None:
        kinds = ("image", "audio", "video")
        if kind not in kinds:
            raise ValueError(f"unknown media kind {kind!r}")
        id_range = id_range.filter(F.col("id") % 3 == kinds.index(kind))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                payload = hashlib.blake2b(
                    f"{MEDIA_SEED}:{i}".encode(), digest_size=32
                ).digest() * (4 + i % 7)
                kind = ("image", "audio", "video")[i % 3]
                rows.append(
                    (i, kind, payload, {"codec": "fake", "src": f"s{i % 5}"})
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return id_range.mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_real_payload(i: int) -> tuple[bytes, str]:
    """Deterministic REAL image payload #i — BMP / PNG / JPEG / GIF / WebP /
    palette-PNG round-robin (i % 6). Dimensions are (4 + i % 13) ×
    (3 + i % 7); the pixel channel value at (x, y) is
    (i*31 + y*17 + x*5 + c*11) % 256 for c = 0,1,2 (R,G,B) — a closed-form
    spec the golden oracle recomputes analytically, so the committed golden
    independently checks the native decoders. PNG rows cycle through all
    five scanline filters (y % 5), exercising every decode branch; GIF uses
    a 256-level grayscale palette with pixel index = the c=0 channel value,
    LZW-coded as a spec-valid clear-per-code stream; palette PNG (color
    type 3) indexes by the c=0 channel value through PLTE entry j =
    ((j*3) % 256, (j*5 + 1) % 256, (j*7 + 2) % 256); JPEG is a header-only
    marker stream and WebP a VP8L header (the dimensions-only parse
    contract, mean_luma NULL)."""
    import struct
    import zlib

    w, h = 4 + i % 13, 3 + i % 7

    def px(x: int, y: int, c: int) -> int:
        return (i * 31 + y * 17 + x * 5 + c * 11) % 256

    def png_filter_encode(lines: list[bytes], ch: int) -> bytearray:
        """Apply PNG scanline filter y % 5 to each raw line (the decoder's
        inverse), prefixing each with its filter-type byte."""
        enc = bytearray()
        prev = bytes(len(lines[0]))
        for y, line in enumerate(lines):
            f = y % 5
            enc.append(f)
            for j in range(len(line)):
                a = line[j - ch] if j >= ch else 0
                up = prev[j]
                ul = prev[j - ch] if j >= ch else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = up
                elif f == 3:
                    pred = (a + up) // 2
                else:
                    pp = a + up - ul
                    pa, pb, pc = abs(pp - a), abs(pp - up), abs(pp - ul)
                    pred = a if pa <= pb and pa <= pc else (
                        up if pb <= pc else ul
                    )
                enc.append((line[j] - pred) & 0xFF)
            prev = line
        return enc

    def png_chunk(typ: bytes, d: bytes) -> bytes:
        return (
            struct.pack(">I", len(d)) + typ + d
            + struct.pack(">I", zlib.crc32(typ + d) & 0xFFFFFFFF)
        )

    fmt = i % 6
    if fmt == 0:  # 24-bit BMP: bottom-up rows, BGR, 4-byte row stride
        stride = (w * 3 + 3) // 4 * 4
        data = bytearray()
        for y in range(h - 1, -1, -1):
            row = bytearray()
            for x in range(w):
                row += bytes([px(x, y, 2), px(x, y, 1), px(x, y, 0)])
            row += bytes(stride - len(row))
            data += row
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0
        )
        return (
            b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
            + info + bytes(data)
        ), "bmp"
    if fmt == 1:  # 8-bit RGB PNG, filter type y % 5 per scanline
        lines = [
            bytes(px(x, y, c) for x in range(w) for c in range(3))
            for y in range(h)
        ]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + png_chunk(b"IHDR", ihdr)
            + png_chunk(
                b"IDAT", zlib.compress(bytes(png_filter_encode(lines, 3)))
            )
            + png_chunk(b"IEND", b"")
        ), "png"
    if fmt == 5:  # 8-bit palette PNG (color type 3): one index byte per
        # pixel (the c=0 channel value) resolved through a non-gray PLTE
        lines = [bytes(px(x, y, 0) for x in range(w)) for y in range(h)]
        plte = bytes(
            v for j in range(256)
            for v in ((j * 3) % 256, (j * 5 + 1) % 256, (j * 7 + 2) % 256)
        )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + png_chunk(b"IHDR", ihdr)
            + png_chunk(b"PLTE", plte)
            + png_chunk(
                b"IDAT", zlib.compress(bytes(png_filter_encode(lines, 1)))
            )
            + png_chunk(b"IEND", b"")
        ), "png"

    if fmt == 2:  # JPEG: header-only marker stream (dimensions-only parse)
        def seg(marker: int, payload: bytes) -> bytes:
            return (
                bytes([0xFF, marker])
                + struct.pack(">H", len(payload) + 2) + payload
            )

        sof0 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
        return (
            b"\xff\xd8"
            + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + seg(0xC0, sof0) + seg(0xDA, bytes([1, 1, 0, 0, 0x3F, 0]))
            + b"\xff\xd9"
        ), "jpeg"
    if fmt == 3:  # GIF: 256-gray palette, clear-per-code LZW (spec-valid,
        # needs no encoder table; width stays min_code_size+1 = 9 bits)
        clear, eoi = 256, 257
        codes: list[int] = []
        for y in range(h):
            for x in range(w):
                codes += [clear, px(x, y, 0)]
        codes.append(eoi)
        acc = nbits = 0
        packed = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += 9
            while nbits >= 8:
                packed.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            packed.append(acc & 0xFF)
        data = bytearray()
        for j in range(0, len(packed), 255):
            blk = packed[j : j + 255]
            data += bytes([len(blk)]) + blk
        data += b"\x00"
        gct = bytes(v for j in range(256) for v in (j, j, j))
        return (
            b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | 7, 0, 0)
            + gct
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            + bytes([8]) + bytes(data) + b"\x3b"
        ), "gif"
    # WebP: VP8L header only (dimensions-only parse contract)
    bits = (w - 1) | ((h - 1) << 14)
    payload = bytes([0x2F]) + struct.pack("<I", bits) + bytes(3)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(payload)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(payload)) + payload
    ), "webp"


def _synth_real_table(spark: SparkSession, n: int, payload_fn,
                      kind: str, id_offset: int) -> DataFrame:
    """Shared generator behind the three synth_real_* builders: one
    MEDIA_SCHEMA row per id with REAL-format bytes from `payload_fn`
    (a module-level `i -> (payload, codec)` builder, so the closure ships
    to executors with the package)."""
    _session.ensure_shipped(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                payload, codec = payload_fn(i)
                rows.append(
                    (
                        id_offset + i, kind, payload,
                        {"codec": codec, "src": "real"},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_real_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic REAL-format media table (synth_real_payload BMP/PNG/
    JPEG/GIF/WebP round-robin) — the natively decoded counterpart of
    `synth_media`, so externally-checked artifacts exercise the native
    decoders, not just the synthetic stand-in. Ids start at 1000."""
    return _synth_real_table(spark, n, synth_real_payload, "image", 1000)


def _check_payload_size(payload: bytes, cap: int, cap_name: str) -> None:
    """Fail-loud size guard for the native decode paths (round 6, verdict
    item 3): the pure-python PNG filter-undo and GIF LZW loops are per-byte
    — a multi-megapixel payload would stall an executor politely instead of
    failing fast. Consistent with the decoders' truncation ValueErrors; the
    caps are the module constants `MAX_IMAGE_BYTES`, `MAX_AUDIO_BYTES` and
    `MAX_VIDEO_BYTES`, far above every legitimate fixture, read when
    called."""
    if payload is not None and len(payload) > cap:
        raise ValueError(
            f"media payload of {len(payload)} bytes exceeds "
            f"{cap_name}={cap}; raise the cap "
            "deliberately or pre-filter oversized payloads"
        )


def _decode_bmp(b: bytes) -> tuple[int, int, float]:
    """24-bit uncompressed BMP (BITMAPINFOHEADER) — pure stdlib + numpy."""
    import numpy as np

    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise NotImplementedError(
            "native BMP decode covers 24-bit uncompressed only"
        )
    height = abs(h)  # sign is row order (bottom-up vs top-down) — mean-safe
    stride = (w * 3 + 3) // 4 * 4
    if len(b) < data_off + stride * height:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(
        b, dtype=np.uint8, count=stride * height, offset=data_off
    ).reshape(height, stride)[:, : w * 3].reshape(height, w, 3)
    # BMP stores BGR
    luma = (
        0.114 * rows[..., 0].astype(np.float64)
        + 0.587 * rows[..., 1]
        + 0.299 * rows[..., 2]
    )
    return w, height, float(luma.mean() / 255.0)


def _decode_png(b: bytes) -> tuple[int, int, float]:
    """8-bit greyscale/palette/RGB/RGBA non-interlaced PNG — stdlib zlib
    inflate + the five standard scanline filters undone sequentially;
    indexed images (color type 3) resolve through the PLTE chunk."""
    import struct
    import zlib

    import numpy as np

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat = 8, bytearray()
    width = height = color_type = palette = None
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            width, height, depth, color_type, _c, _f, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8 or interlace != 0 or color_type not in (0, 2, 3, 6):
                raise NotImplementedError(
                    "native PNG decode covers 8-bit gray/palette/RGB/RGBA, "
                    "non-interlaced only"
                )
        elif typ == b"PLTE":
            if len(data) % 3 or not 3 <= len(data) <= 768:
                raise ValueError("corrupt PNG PLTE chunk")
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if width is None:
        raise ValueError("PNG without IHDR")
    if color_type == 3 and palette is None:
        raise ValueError("PNG palette image without a PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    ch = {0: 1, 2: 3, 3: 1, 6: 4}[color_type]
    stride = width * ch
    # validate up front (mirrors the BMP path's contract): a truncated or
    # corrupt IDAT would otherwise surface as a bare IndexError mid-filter
    if len(raw) < height * (1 + stride):
        raise ValueError("truncated PNG payload")
    out = bytearray()
    prev = bytearray(stride)
    p = 0
    for _y in range(height):
        f = raw[p]
        line = bytearray(raw[p + 1 : p + 1 + stride])
        p += 1 + stride
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                pp = a + prev[i] - c
                pa, pb, pc = abs(pp - a), abs(pp - prev[i]), abs(pp - c)
                pred = a if pa <= pb and pa <= pc else (
                    prev[i] if pb <= pc else c
                )
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter {f}")
        out += line
        prev = line
    arr = np.frombuffer(bytes(out), dtype=np.uint8).reshape(height, width, ch)
    if color_type == 3:
        if int(arr.max()) >= len(palette):
            raise ValueError("PNG palette index out of range")
        arr = palette[arr[..., 0]]
        luma = (
            0.299 * arr[..., 0].astype(np.float64)
            + 0.587 * arr[..., 1]
            + 0.114 * arr[..., 2]
        )
    elif ch == 1:
        luma = arr[..., 0].astype(np.float64)
    else:
        luma = (
            0.299 * arr[..., 0].astype(np.float64)
            + 0.587 * arr[..., 1]
            + 0.114 * arr[..., 2]
        )
    return width, height, float(luma.mean() / 255.0)


def _parse_jpeg_dims(b: bytes) -> tuple[int, int, None]:
    """JPEG dimensions from the SOF frame header — a marker-segment scan,
    no entropy decode. Walks the segment stream (0xFF marker + big-endian
    length) to the first SOFn marker (0xC0-0xCF excluding DHT 0xC4, JPG
    0xC8, DAC 0xCC — the baseline/progressive/lossless frame family) and
    reads (height, width) from its fixed-layout payload. mean_luma is None
    by contract: luma needs the entropy-coded scan data, which genuinely
    requires a decode library."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = b[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone marker, no length field
            continue
        if marker == 0xD9:  # EOI before any SOF
            break
        seg_len = int.from_bytes(b[pos + 2 : pos + 4], "big")
        if seg_len < 2 or pos + 2 + seg_len > len(b):
            raise ValueError("truncated JPEG segment")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if seg_len < 7:
                raise ValueError("truncated JPEG SOF segment")
            height = int.from_bytes(b[pos + 5 : pos + 7], "big")
            width = int.from_bytes(b[pos + 7 : pos + 9], "big")
            if width == 0 or height == 0:
                raise ValueError("JPEG SOF with zero dimension")
            return width, height, None
        if marker == 0xDA:  # SOS: entropy data follows, SOF must precede it
            break
        pos += 2 + seg_len
    raise ValueError("JPEG without SOF frame header")


def _decode_gif(b: bytes) -> tuple[int, int, float]:
    """GIF87a/GIF89a full native decode of the FIRST image frame — pure
    stdlib LZW + palette lookup. Returns the logical-screen dimensions and
    the mean luma of the first frame's pixels (order-independent, so
    interlaced frames need no deinterlace pass; later frames of an
    animation are ignored by contract)."""
    import numpy as np

    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    if width == 0 or height == 0:
        raise ValueError("GIF with zero logical-screen dimension")
    flags = b[10]
    pos = 13
    gct = None
    if flags & 0x80:  # global color table: 3 * 2^(N+1) bytes
        n = 3 * (2 << (flags & 0x07))
        if pos + n > len(b):
            raise ValueError("truncated GIF color table")
        gct = np.frombuffer(b[pos : pos + n], dtype=np.uint8).reshape(-1, 3)
        pos += n

    def sub_blocks(p: int) -> tuple[bytes, int]:
        out = bytearray()
        while True:
            if p >= len(b):
                raise ValueError("truncated GIF sub-blocks")
            sz = b[p]
            p += 1
            if sz == 0:
                return bytes(out), p
            if p + sz > len(b):
                raise ValueError("truncated GIF sub-blocks")
            out += b[p : p + sz]
            p += sz

    while pos < len(b):
        block = b[pos]
        if block == 0x3B:  # trailer before any image
            break
        if block == 0x21:  # extension: label + sub-blocks
            _, pos = sub_blocks(pos + 2)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        # image descriptor: left, top, w, h (u16 LE each), flags
        if pos + 10 > len(b):
            raise ValueError("truncated GIF image descriptor")
        iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
        ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
        iflags = b[pos + 9]
        pos += 10
        table = gct
        if iflags & 0x80:  # local color table overrides
            n = 3 * (2 << (iflags & 0x07))
            if pos + n > len(b):
                raise ValueError("truncated GIF color table")
            table = np.frombuffer(
                b[pos : pos + n], dtype=np.uint8
            ).reshape(-1, 3)
            pos += n
        if table is None:
            raise ValueError("GIF image without a color table")
        if pos >= len(b):
            raise ValueError("truncated GIF image data")
        min_code = b[pos]
        data, pos = sub_blocks(pos + 1)
        indices = _lzw_decode(data, min_code, iw * ih)
        idx = np.array(indices, dtype=np.int64)
        if idx.size == 0 or idx.max() >= len(table):
            raise ValueError("GIF palette index out of range")
        rgb = table[idx].astype(np.float64)
        luma = 0.299 * rgb[:, 0] + 0.587 * rgb[:, 1] + 0.114 * rgb[:, 2]
        return width, height, float(luma.mean() / 255.0)
    raise ValueError("GIF without an image frame")


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list:
    """GIF-variant LZW: variable-width codes LSB-first, clear/EOI codes,
    code width grows after the table fills until the 12-bit cap."""
    clear = 1 << min_code_size
    eoi = clear + 1

    def fresh() -> list:
        return [[i] for i in range(clear)] + [None, None]

    table = fresh()
    code_size = min_code_size + 1
    out: list = []
    acc = nbits = 0
    prev = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = fresh()
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table) or table[code] is None:
                    raise ValueError("corrupt GIF LZW stream")
                entry = table[code]
            elif code < len(table) and table[code] is not None:
                entry = table[code]
                table.append(prev + [entry[0]])
            elif code == len(table):  # the KwKwK case
                entry = prev + [prev[0]]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW stream")
            out.extend(entry)
            if len(out) >= max_pixels:
                return out[:max_pixels]
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return out


def _parse_webp_dims(b: bytes) -> tuple[int, int, None]:
    """WebP dimensions from the first chunk of the RIFF container — covers
    all three container layouts: VP8 (lossy: 14-bit w/h after the 3-byte
    frame start code), VP8L (lossless: 14-bit-1 w/h bit-packed after the
    0x2F signature), VP8X (extended: 24-bit-1 canvas w/h). mean_luma is
    None by contract — pixels are VP8-entropy/lossless-coded."""
    if len(b) < 16 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    fourcc = b[12:16]
    payload = b[20:]
    if fourcc == b"VP8 ":
        # key-frame header: 3-byte frame tag, start code 9D 01 2A, then
        # two little-endian u16 whose low 14 bits are width/height
        if len(payload) < 10 or payload[3:6] != b"\x9d\x01\x2a":
            raise ValueError("truncated or non-keyframe VP8 payload")
        width = int.from_bytes(payload[6:8], "little") & 0x3FFF
        height = int.from_bytes(payload[8:10], "little") & 0x3FFF
    elif fourcc == b"VP8L":
        if len(payload) < 5 or payload[0] != 0x2F:
            raise ValueError("truncated VP8L payload")
        bits = int.from_bytes(payload[1:5], "little")
        width = (bits & 0x3FFF) + 1
        height = ((bits >> 14) & 0x3FFF) + 1
    elif fourcc == b"VP8X":
        if len(payload) < 10:
            raise ValueError("truncated VP8X payload")
        width = int.from_bytes(payload[4:7], "little") + 1
        height = int.from_bytes(payload[7:10], "little") + 1
    else:
        raise ValueError("unknown WebP chunk " + repr(fourcc))
    if width == 0 or height == 0:
        raise ValueError("WebP with zero dimension")
    return width, height, None


def decode_image(payload: bytes,
                 fake: bool = False) -> tuple[int, int, float | None]:
    """(width, height, mean_luma). Real decode natively covers 24-bit
    uncompressed BMP, 8-bit gray/palette/RGB/RGBA non-interlaced PNG, and GIF
    (LZW + palette, first frame) — pure stdlib+numpy, no imaging library
    in this container; JPEG and WebP get dimensions-only header parses
    (mean_luma=None — documented boundary: luma needs entropy/VP8
    decode). Other formats raise NotImplementedError. `fake=True` keeps
    the deterministic synthetic decoder for opaque test payloads (q15's
    golden path)."""
    if fake:
        h = hashlib.blake2b(payload or b"", digest_size=8).digest()
        w = 64 + h[0] % 192
        ht = 64 + h[1] % 192
        luma = sum(payload[:256]) / max(1, len(payload[:256])) / 255.0
        return w, ht, luma
    _check_payload_size(payload, MAX_IMAGE_BYTES, "MAX_IMAGE_BYTES")
    if payload and payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload and payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload and payload[:2] == b"\xff\xd8":
        return _parse_jpeg_dims(payload)
    if payload and payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload and payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return _parse_webp_dims(payload)
    raise NotImplementedError(
        "native coverage: BMP (24-bit uncompressed), PNG (8-bit, "
        "non-interlaced), and GIF (first frame) full decode; JPEG/WebP "
        "dimensions-only; full decode of those needs PIL/opencv (not "
        "installed) — pass fake=True for the deterministic stand-in"
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def _decode_wav(b: bytes) -> tuple[int, int, float, float]:
    """RIFF/WAVE PCM full native decode — 8-bit unsigned and 16-bit signed
    PCM, any channel count. Returns (sample_rate, n_channels, duration_sec,
    rms) with rms over samples normalized to [-1, 1]."""
    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV without fmt/data chunks")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits not in (8, 16):
        raise NotImplementedError(
            "native WAV decode covers 8/16-bit PCM only"
        )
    if n_channels == 0 or sample_rate == 0:
        raise ValueError("WAV with zero channels or sample rate")
    if bits == 8:
        samples = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
        ) / 128.0
    else:
        usable = len(data) // 2 * 2
        samples = (
            np.frombuffer(data[:usable], dtype="<i2").astype(np.float64)
            / 32768.0
        )
    n_frames = samples.size // n_channels
    if n_frames == 0:
        raise ValueError("WAV with no sample frames")
    rms = float(np.sqrt(np.mean(samples[: n_frames * n_channels] ** 2)))
    return sample_rate, n_channels, n_frames / sample_rate, rms


_MP3_RATES = {3: (44100, 48000, 32000),   # MPEG1
              2: (22050, 24000, 16000),   # MPEG2
              0: (11025, 12000, 8000)}    # MPEG2.5


def _parse_mp3_header(b: bytes) -> tuple[int, int, None, None]:
    """MP3 stream parameters from the first frame header — a sync-word
    scan past any ID3v2 tag, no audio decode. duration/rms are None by
    contract: they need the full frame walk + MDCT synthesis a real
    decoder provides."""
    pos = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        size = 0
        for byte in b[6:10]:  # syncsafe big-endian
            size = (size << 7) | (byte & 0x7F)
        pos = 10 + size
    while pos + 4 <= len(b):
        if b[pos] == 0xFF and b[pos + 1] & 0xE0 == 0xE0:
            version = (b[pos + 1] >> 3) & 0x03
            layer = (b[pos + 1] >> 1) & 0x03
            rate_idx = (b[pos + 2] >> 2) & 0x03
            if version == 1 or layer == 0 or rate_idx == 3:
                pos += 1
                continue  # reserved fields: false sync, keep scanning
            sample_rate = _MP3_RATES[version][rate_idx]
            n_channels = 1 if (b[pos + 3] >> 6) & 0x03 == 3 else 2
            return sample_rate, n_channels, None, None
        pos += 1
    raise ValueError("MP3 without a valid frame header")


def _parse_flac_streaminfo(b: bytes) -> tuple[int, int, float | None, None]:
    """FLAC stream parameters from the mandatory first STREAMINFO metadata
    block (RFC 9639 §8.2) — no frame decode. Unlike MP3, duration IS
    header-derivable (the 36-bit total-samples field); rms is None by
    contract (it needs the subframe residual decode a real codec provides).
    A total-samples field of 0 means "unknown" per spec → duration None."""
    if len(b) < 8 or b[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    if b[4] & 0x7F != 0:
        raise ValueError("FLAC stream must start with a STREAMINFO block")
    ln = int.from_bytes(b[5:8], "big")
    if ln < 34 or 8 + ln > len(b):
        raise ValueError("truncated FLAC STREAMINFO")
    # body bytes 10..18 pack sample_rate(20) | channels-1(3) | bps-1(5) |
    # total_samples(36) as one big-endian 64-bit field
    v = int.from_bytes(b[18:26], "big")
    sample_rate = v >> 44
    n_channels = ((v >> 41) & 0x07) + 1
    total_samples = v & ((1 << 36) - 1)
    if sample_rate == 0:
        raise ValueError("FLAC STREAMINFO with zero sample rate")
    duration = total_samples / sample_rate if total_samples else None
    return sample_rate, n_channels, duration, None


def decode_audio(payload: bytes, fake: bool = False
                 ) -> tuple[int, int, float | None, float | None]:
    """(sample_rate, n_channels, duration_sec, rms). Real decode natively
    covers RIFF/WAVE 8/16-bit PCM (pure stdlib+numpy); MP3 gets a
    parameters-only frame-header parse (duration/rms None — documented
    boundary: they need a real decoder); FLAC gets a STREAMINFO parse
    (duration header-derivable, rms None). Other formats raise
    NotImplementedError. `fake=True` keeps a deterministic synthetic
    decoder for opaque test payloads (mirrors `decode_image`)."""
    if fake:
        h = hashlib.blake2b(payload or b"", digest_size=8).digest()
        return (
            8000 + h[0] * 100,
            1 + h[1] % 2,
            (1 + h[2] % 30) / 10.0,
            h[3] / 255.0,
        )
    _check_payload_size(payload, MAX_AUDIO_BYTES, "MAX_AUDIO_BYTES")
    if payload and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    if payload and payload[:4] == b"fLaC":
        return _parse_flac_streaminfo(payload)
    if payload and (
        payload[:3] == b"ID3"
        or (len(payload) >= 2 and payload[0] == 0xFF
            and payload[1] & 0xE0 == 0xE0)
    ):
        return _parse_mp3_header(payload)
    raise NotImplementedError(
        "native coverage: WAV (8/16-bit PCM) full decode; MP3 and FLAC "
        "parameters-only; other audio formats need librosa/ffmpeg (not "
        "installed) — pass fake=True for the deterministic stand-in"
    )


def synth_real_audio_payload(i: int) -> tuple[bytes, str]:
    """Deterministic REAL audio payload #i — 16-bit WAV / 8-bit WAV / MP3
    header / FLAC STREAMINFO round-robin (i % 4). sample_rate is (8000,
    16000, 22050, 44100)[i % 4] for WAV (32000 + (i % 5) * 8000 for FLAC,
    whose rotation slot would otherwise pin the WAV rate table's last
    entry), channels 1 + i % 2, frames 50 + i % 30; the sample value at
    frame t, channel c is a closed-form spec the golden oracle recomputes
    analytically: 16-bit s = ((i*37 + t*13 + c*7) % 4096) - 2048, 8-bit
    byte v = (i*37 + t*13 + c*7) % 256. MP3 payloads are a single
    hand-built frame header (parameters-only parse contract); FLAC
    payloads are a STREAMINFO-only metadata stream with total_samples =
    frames (duration header-derivable, rms NULL)."""
    import struct

    rate = (8000, 16000, 22050, 44100)[i % 4]
    ch = 1 + i % 2
    frames = 50 + i % 30
    fmt = i % 4

    def wav(data: bytes, bits: int) -> bytes:
        block = ch * bits // 8
        fmt_body = struct.pack(
            "<HHIIHH", 1, ch, rate, rate * block, block, bits
        )
        chunks = (
            b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    if fmt == 0:  # 16-bit PCM
        data = b"".join(
            struct.pack("<h", ((i * 37 + t * 13 + c * 7) % 4096) - 2048)
            for t in range(frames) for c in range(ch)
        )
        return wav(data, 16), "wav"
    if fmt == 1:  # 8-bit unsigned PCM
        data = bytes(
            (i * 37 + t * 13 + c * 7) % 256
            for t in range(frames) for c in range(ch)
        )
        return wav(data, 8), "wav"
    if fmt == 2:  # MP3: MPEG1 Layer III frame header, 44.1 kHz
        hdr = bytes([0xFF, 0xFB, 0x90, 0xC0 if ch == 1 else 0x00])
        return hdr + bytes(32), "mp3"
    # FLAC: last-block STREAMINFO (type 0, length 34) — blocksizes 4096,
    # framesizes 0 (unknown, spec-valid), 16-bit, total_samples = frames
    frate = 32000 + (i % 5) * 8000
    v = (frate << 44) | ((ch - 1) << 41) | (15 << 36) | frames
    body = (
        struct.pack(">HH", 4096, 4096) + bytes(6)
        + v.to_bytes(8, "big") + bytes(16)
    )
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body, "flac"


def synth_real_audio(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic REAL-format audio table (synth_real_audio_payload
    WAV/MP3/FLAC bytes) — the audio counterpart of `synth_real_media`.
    Ids start at 2000."""
    return _synth_real_table(spark, n, synth_real_audio_payload, "audio", 2000)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """media → per-item decoded audio features (`decode_audio`)."""
    return _extract(media, decode_audio, AUDIO_FEATURES_SCHEMA)


VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def _mp4_boxes(b: bytes, start: int, end: int):
    """Iterate (type, payload_start, payload_end) over ISO-BMFF boxes in
    b[start:end]. Handles 64-bit largesize and size-0 (to end-of-file)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        head = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 box header")
            size = int.from_bytes(b[pos + 8 : pos + 16], "big")
            head = 16
        elif size == 0:
            size = end - pos
        if size < head or pos + size > end:
            raise ValueError("truncated MP4 box")
        yield typ, pos + head, pos + size
        pos += size


def _parse_mp4_meta(b: bytes) -> tuple[int | None, int | None, float]:
    """MP4/MOV metadata from the moov box — a pure ISO-BMFF box walk, no
    sample decode. Duration comes from mvhd (duration/timescale, version
    0 and 1 layouts); width/height from the first tkhd with nonzero
    dimensions (16.16 fixed point), None for audio-only files."""
    if len(b) < 12 or b[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload")
    duration = width = height = None
    for typ, s, e in _mp4_boxes(b, 0, len(b)):
        if typ != b"moov":
            continue
        for ctyp, cs, ce in _mp4_boxes(b, s, e):
            if ctyp == b"mvhd":
                if ce - cs < 20 or (b[cs] == 1 and ce - cs < 32):
                    raise ValueError("truncated MP4 mvhd payload")
                ver = b[cs]
                if ver == 1:
                    timescale = int.from_bytes(b[cs + 20 : cs + 24], "big")
                    dur = int.from_bytes(b[cs + 24 : cs + 32], "big")
                else:
                    timescale = int.from_bytes(b[cs + 12 : cs + 16], "big")
                    dur = int.from_bytes(b[cs + 16 : cs + 20], "big")
                if timescale == 0:
                    raise ValueError("MP4 mvhd with zero timescale")
                duration = dur / timescale
            elif ctyp == b"trak" and width is None:
                for ttyp, ts, te in _mp4_boxes(b, cs, ce):
                    if ttyp != b"tkhd":
                        continue
                    # full fixed layout through width+height: v0 needs 84
                    # bytes, v1 needs 96 — a shorter box must not fall
                    # through to reading the next sibling's bytes
                    if te - ts < 84 or (b[ts] == 1 and te - ts < 96):
                        raise ValueError("truncated MP4 tkhd payload")
                    # to duration: ver/flags 4 + ctime/mtime (8|16) +
                    # track_id 4 + reserved 4
                    off = ts + (28 if b[ts] == 1 else 20)
                    # skip duration(4|8) + reserved 8 + layer/alt/vol/res 8
                    off += (8 if b[ts] == 1 else 4) + 8 + 8 + 36
                    w = int.from_bytes(b[off : off + 4], "big") >> 16
                    h = int.from_bytes(b[off + 4 : off + 8], "big") >> 16
                    if w and h:
                        width, height = w, h
    if duration is None:
        raise ValueError("MP4 without a moov/mvhd box")
    return width, height, duration


def decode_video(payload: bytes,
                 fake: bool = False) -> tuple[int | None, int | None, float]:
    """(width, height, duration_sec). Real parse natively covers MP4/MOV
    (ISO-BMFF box walk: mvhd duration, tkhd dimensions — no sample
    decode, so this is container metadata, the part a catalog pipeline
    needs; frame pixels need ffmpeg). Other containers raise
    NotImplementedError. `fake=True` keeps a deterministic synthetic
    parser for opaque test payloads (mirrors `decode_image`)."""
    if fake:
        h = hashlib.blake2b(payload or b"", digest_size=8).digest()
        return (
            160 + h[0] * 8,
            120 + h[1] * 8,
            (1 + h[2]) / 4.0,
        )
    _check_payload_size(payload, MAX_VIDEO_BYTES, "MAX_VIDEO_BYTES")
    if payload and len(payload) >= 12 and payload[4:8] == b"ftyp":
        return _parse_mp4_meta(payload)
    raise NotImplementedError(
        "native coverage: MP4/MOV container metadata only; other video "
        "containers (MKV/WebM/AVI) and frame decode need ffmpeg (not "
        "installed) — pass fake=True for the deterministic stand-in"
    )


def synth_real_video_payload(i: int) -> tuple[bytes, str]:
    """Deterministic REAL MP4 payload #i — a minimal ftyp+moov+mdat file
    whose metadata is a closed-form spec the golden recomputes: duration
    is (10 + i % 100) / 10 seconds at timescale 1000, dimensions are
    (160 + 8 * (i % 9)) × (120 + 8 * (i % 5)); every third payload uses
    the version-1 (64-bit) mvhd/tkhd layout, and every fifth is
    audio-only (no video trak → NULL dimensions)."""
    import struct

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + typ + payload

    dur_ms = (10 + i % 100) * 100
    w, h = 160 + 8 * (i % 9), 120 + 8 * (i % 5)
    v1 = i % 3 == 0
    if v1:
        mvhd = (b"\x01" + bytes(3) + bytes(16)
                + struct.pack(">I", 1000) + struct.pack(">Q", dur_ms)
                + bytes(80))
        tkhd_pre = (b"\x01" + bytes(3) + bytes(16)
                    + struct.pack(">I", 1) + bytes(4)
                    + struct.pack(">Q", dur_ms))
    else:
        mvhd = (b"\x00" + bytes(3) + bytes(8)
                + struct.pack(">I", 1000) + struct.pack(">I", dur_ms)
                + bytes(80))
        tkhd_pre = (b"\x00" + bytes(3) + bytes(8)
                    + struct.pack(">I", 1) + bytes(4)
                    + struct.pack(">I", dur_ms))
    tkhd = (tkhd_pre + bytes(8) + bytes(8) + bytes(36)
            + struct.pack(">II", w << 16, h << 16))
    children = box(b"mvhd", mvhd)
    if i % 5 != 4:  # every fifth file is audio-only: no video trak
        children += box(b"trak", box(b"tkhd", tkhd))
    return (
        box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
        + box(b"moov", children)
        + box(b"mdat", hashlib.blake2b(
            f"mdat:{i}".encode(), digest_size=16
        ).digest() * (2 + i % 5))
    ), "mp4"


def synth_real_video(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic REAL-format video table (synth_real_video_payload
    MP4 bytes) — the video counterpart of `synth_real_media`. Ids start at
    3000."""
    return _synth_real_table(spark, n, synth_real_video_payload, "video", 3000)


def extract_video_features(media: DataFrame) -> DataFrame:
    """media → per-item video container metadata (`decode_video`)."""
    return _extract(media, decode_video, VIDEO_FEATURES_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """media → per-item decoded image features (`decode_image`)."""
    return _extract(media, decode_image, FEATURES_SCHEMA)


def _extract(media: DataFrame, decode, schema: T.StructType) -> DataFrame:
    """The per-row Arrow loop behind the three extract_* operators: one
    output row (media_id, kind, *decode(payload), n_bytes) per media row,
    a NULL payload decoding as empty bytes. A row whose meta codec is
    'fake' takes the synthetic decoder; every other row the native one."""
    _session.ensure_shipped(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                b = bytes(payload) if payload is not None else b""
                fake = dict(meta or {}).get("codec") == "fake"
                rows.append((int(mid), kind, *decode(b, fake=fake), len(b)))
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return media.mapInPandas(run, schema=schema)
