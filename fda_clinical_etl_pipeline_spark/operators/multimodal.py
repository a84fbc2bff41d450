"""Multimodal columns (north-star extension): image/audio/video as opaque
``binary`` columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

Decode is REAL for library-free formats — `decode_ppm` (P6 images),
`decode_png` (8-bit PNG: stdlib zlib inflate + scanline filter
reconstruction + numpy; all five PNG filters, color types 0/2/3/4/6),
`decode_gif` (pure-Python LZW), baseline JPEG (`operators/jpeg.py`:
Huffman entropy decode + IDCT + chroma upsampling, cross-validated
both directions against the JVM's javax.imageio reference codec) and
`decode_wav_pcm16` (RIFF/WAVE PCM16 audio) — driven through
`image_features` / `audio_features` mapInPandas operators with per-row
error capture (corrupt assets quarantine as error rows, never kill the
job). Only MP3/H.264 remain a declared stub (`real_decode` raises; no
librosa/ffmpeg in this container), with `fake_decode_features` as the
deterministic any-bytes test path. The
Spark-side plumbing is identical either way and is what matters at
100 TB:

- assets travel as one ``binary`` column + metadata struct, so the scan
  is a plain parquet/binaryFile scan with column pruning (a query that
  only needs metadata never reads the bytes);
- decode/feature-extract runs as ``mapInPandas``: Arrow batches in, Arrow
  batches out, schema declared up-front, per-batch vectorized work;
- partitioning: batches are bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory is
  sized by config, not by the largest file.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ._util import tables

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("feat_sum", T.LongType()),
        T.StructField("feat_first", T.LongType()),
    ]
)


def real_decode(content: bytes) -> object:
    """Placeholder for codec-library decode (MP3/H.264 via
    librosa/ffmpeg).

    Not available in this container — any caller that needs those codecs
    must run where they exist. Formats that decode for REAL here, no
    codec library involved: ``decode_ppm`` (P6 images), ``decode_png``
    (8-bit PNG — stdlib zlib inflate + filter reconstruction),
    ``decode_gif`` (GIF87a/89a — pure-Python LZW + palette +
    interlace), ``jpeg.decode_jpeg`` (baseline JFIF — Huffman entropy
    decode + IDCT + chroma upsampling, cross-validated against the
    JVM's javax.imageio), ``decode_avi_frames`` (Motion-JPEG AVI video
    via the same JPEG codec), ``decode_wav_pcm16`` /
    ``decode_wav_ima_adpcm`` / ``decode_wav_g711`` (PCM, IMA-ADPCM and
    G.711 mu/A-law audio). Stream METADATA parses for real for both
    env-gated codecs — ``probe_mpeg_audio`` (bitrate, duration,
    channels from the frame walk) and ``probe_h264`` (dimensions,
    profile, level, NAL composition from the Exp-Golomb SPS parse),
    surfaced as structured rows by ``media_stream_probe`` — so only
    the SAMPLE decode itself remains env-gated.
    """
    raise NotImplementedError(
        "MP3/H.264 codecs are not installed; PPM, PNG, GIF, baseline "
        "JPEG and WAV decode are real (decode_ppm / decode_png / "
        "decode_gif / jpeg.decode_jpeg / decode_wav_pcm16); use "
        "fake_decode_features for the deterministic any-bytes test path"
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# bytes per pixel by PNG color type at bit depth 8
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(content: bytes):
    """REAL image decode for 8-bit PNG — stdlib ``zlib`` inflate plus
    per-scanline filter reconstruction (None/Sub/Up/Average/Paeth) in
    numpy; no codec library. Supports color types 0 (gray), 2 (RGB),
    3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced, depth 8.
    Returns (width, height, pixels) with pixels (h, w, 3) uint8 RGB
    (palette expanded, alpha dropped). Raises ValueError on anything
    else — callers surface that as a quarantined error row; corrupt
    streams (zlib/struct/palette-index failures) are normalized to
    ValueError too, so the quarantine contract holds for ANY byte
    input, not just well-framed-but-unsupported PNGs."""
    import struct
    import zlib

    import numpy as np

    try:
        return _decode_png_checked(content, struct, zlib, np)
    except (zlib.error, struct.error, IndexError) as exc:
        raise ValueError(f"corrupt PNG: {exc}") from exc


def _decode_png_checked(content: bytes, struct, zlib, np):
    if not content.startswith(PNG_MAGIC):
        raise ValueError("not a PNG")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(content):
        length, ctype = struct.unpack(">I4s", content[pos:pos + 8])
        body = content[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + payload-crc framing
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8:
        raise ValueError("only 8-bit PNG supported")
    if interlace:
        raise ValueError("interlaced PNG unsupported")
    channels = _PNG_CHANNELS.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG raster")
    arr = np.frombuffer(raw, np.uint8,
                        count=h * (stride + 1)).reshape(h, stride + 1)
    out = np.zeros((h, stride), np.int64)
    prev = np.zeros(stride, np.int64)
    bpp = channels
    for y in range(h):
        f = int(arr[y, 0])
        cur = arr[y, 1:].astype(np.int64)
        if f == 0:
            rec = cur
        elif f == 2:  # Up: whole-row vectorized
            rec = (cur + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth: left-dependent
            rec = cur
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + prev[x]) >> 1
                else:
                    b, c = prev[x], (prev[x - bpp] if x >= bpp else 0)
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = rec
        prev = rec
    px = out.astype(np.uint8).reshape(h, w, channels)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        rgb = plte[px[:, :, 0]]
    elif color == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif color == 4:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # 2 (RGB) / 6 (RGBA)
        rgb = px[:, :, :3]
    return w, h, np.ascontiguousarray(rgb)


def encode_png(pixels) -> bytes:
    """Minimal RGB PNG encoder (filter-0 scanlines, one zlib IDAT) — the
    write-side twin of ``decode_png`` for tests and asset round-trips.
    Accepts (h, w, 3) uint8 (or (h, w), broadcast to gray RGB)."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    h, w = px.shape[:2]
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


GIF_MAGICS = (b"GIF87a", b"GIF89a")
# Pillow's decompression-bomb limit (256 MiB as RGB). Every composited
# frame copies the logical-screen canvas, and a corrupt header may
# declare up to 65535 x 65535 pixels (12.9 GB as RGB).
_GIF_MAX_CANVAS_PIXELS = 1024 * 1024 * 1024 // 4 // 3


def _gif_lzw_decode(data: bytes, min_code: int, expected: int) -> list[int]:
    """GIF-variant LZW: variable code width min_code+1..12 bits,
    little-endian bit packing, clear/end control codes. Sequential by
    nature — runs per-asset inside the Arrow batch worker."""
    clear = 1 << min_code
    end = clear + 1
    code_size = min_code + 1
    next_code = end + 1
    table: dict[int, tuple[int, ...]] = {i: (i,) for i in range(clear)}
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    bitpos, total_bits = 0, len(data) * 8
    while bitpos + code_size <= total_bits and len(out) < expected:
        byte_i = bitpos // 8
        chunk = int.from_bytes(data[byte_i:byte_i + 3], "little")
        code = (chunk >> (bitpos % 8)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code + 1
            next_code = end + 1
            table = {i: (i,) for i in range(clear)}
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]  # KeyError → normalized below
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)
        else:
            raise ValueError(f"bad LZW code {code}")
        if prev is not None:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        out.extend(entry)
        prev = entry
    if len(out) < expected:
        raise ValueError("truncated LZW stream")
    return out[:expected]


def decode_gif(content: bytes):
    """REAL image decode for GIF87a/89a — pure-Python LZW decompression
    plus palette expansion and interlace reordering; no codec library.
    Decodes the FIRST image frame. Returns (width, height, pixels) with
    pixels (h, w, 3) uint8 RGB. Raises ValueError on anything else;
    corrupt streams (struct/index/LZW failures) normalize to ValueError
    so the quarantine contract holds for any byte input."""
    import struct

    import numpy as np

    try:
        return _decode_gif_checked(content, struct, np)
    except (struct.error, IndexError, KeyError) as exc:
        raise ValueError(f"corrupt GIF: {exc!r}") from exc


def _decode_gif_checked(content: bytes, struct, np):
    if content[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF")
    _sw, _sh, packed, _bg, _ar = struct.unpack("<HHBBB", content[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 7) + 1)
        gct = np.frombuffer(content[pos:pos + 3 * n],
                            np.uint8).reshape(-1, 3)
        pos += 3 * n
    while pos < len(content):
        block = content[pos]
        if block == 0x21:  # extension: label byte + length-prefixed subs
            pos += 2
            while content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _l, _t, iw, ih, ipacked = struct.unpack(
                "<HHHHB", content[pos + 1:pos + 10]
            )
            pos += 10
            lct = gct
            if ipacked & 0x80:
                n = 2 ** ((ipacked & 7) + 1)
                lct = np.frombuffer(content[pos:pos + 3 * n],
                                    np.uint8).reshape(-1, 3)
                pos += 3 * n
            if lct is None:
                raise ValueError("GIF image has no color table")
            min_code = content[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                raise ValueError(f"bad LZW min code size {min_code}")
            data = bytearray()
            while content[pos] != 0:
                ln = content[pos]
                data += content[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = np.array(
                _gif_lzw_decode(bytes(data), min_code, iw * ih), np.int32
            ).reshape(ih, iw)
            if int(idx.max(initial=0)) >= len(lct):
                raise ValueError("palette index out of range")
            if ipacked & 0x40:  # interlaced: 4-pass row order
                order = np.concatenate([
                    np.arange(0, ih, 8), np.arange(4, ih, 8),
                    np.arange(2, ih, 4), np.arange(1, ih, 2),
                ])
                deinterlaced = np.empty_like(idx)
                deinterlaced[order] = idx
                idx = deinterlaced
            return iw, ih, np.ascontiguousarray(lct[idx])
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    raise ValueError("no image data in GIF")


def encode_gif(indices, palette) -> bytes:
    """Minimal GIF89a encoder (global palette, single frame,
    clear-code-per-run LZW so the code table never grows) — the
    write-side twin of ``decode_gif`` for tests and round-trips.
    ``indices`` is (h, w) uint8 palette indices; ``palette`` (n≤256, 3)
    uint8."""
    import struct

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    # pad palette to a power of two ≥ 4 entries
    bits = max(2, int(np.ceil(np.log2(max(len(pal), 2)))))
    full = np.zeros((2 ** bits, 3), np.uint8)
    full[:len(pal)] = pal
    min_code = bits
    clear, end = 1 << min_code, (1 << min_code) + 1
    code_size = min_code + 1

    out_bits: list[int] = []

    def emit(code: int) -> None:
        for b in range(code_size):
            out_bits.append((code >> b) & 1)

    # Re-clear before the decoder's table would force a code-width bump,
    # so every emitted index fits in min_code+1 bits ("uncompressed
    # GIF"). The decoder adds one table entry per code after the first
    # following a clear; width bumps after 2^min_code - 2 additions.
    interval = max(1, (1 << min_code) - 2)
    emit(clear)
    since_clear = 0
    for v in idx.flatten().tolist():
        if since_clear >= interval:
            emit(clear)
            since_clear = 0
        emit(int(v))
        since_clear += 1
    emit(end)
    by = bytearray()
    for i in range(0, len(out_bits), 8):
        byte = 0
        for j, bit in enumerate(out_bits[i:i + 8]):
            byte |= bit << j
        by.append(byte)
    subbed = bytearray()
    for i in range(0, len(by), 255):
        chunk = by[i:i + 255]
        subbed.append(len(chunk))
        subbed += chunk
    subbed.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 7), 0, 0)
        + full.tobytes()
        + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([min_code]) + bytes(subbed)
        + b"\x3B"
    )


def decode_ppm(content: bytes):
    """REAL image decode for binary PPM (P6) — header parse + numpy
    reshape, no codec library. Returns (width, height, pixels) with
    pixels shaped (h, w, 3) uint8. Raises ValueError on non-P6 input."""
    import numpy as np

    if not content.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    fields: list[bytes] = []
    i = 2
    while len(fields) < 3:
        while i < len(content) and content[i:i + 1].isspace():
            i += 1
        if content[i:i + 1] == b"#":  # comment line
            while i < len(content) and content[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(content) and not content[j:j + 1].isspace():
            j += 1
        fields.append(content[i:j])
        i = j
    i += 1  # the single whitespace after maxval
    width, height, maxval = (int(f) for f in fields)
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    raster = np.frombuffer(content, dtype=np.uint8,
                           count=width * height * 3, offset=i)
    return width, height, raster.reshape(height, width, 3)


def resize_image_nn(pixels, out_w: int, out_h: int):
    """REAL nearest-neighbor resize — numpy index grids, no library.
    pixels (h, w, 3) → (out_h, out_w, 3)."""
    import numpy as np

    h, w = pixels.shape[:2]
    rows = (np.arange(out_h) * h // out_h).astype(np.int64)
    cols = (np.arange(out_w) * w // out_w).astype(np.int64)
    return pixels[rows[:, None], cols[None, :]]


def decode_wav_pcm16(content: bytes):
    """REAL audio decode for 16-bit PCM RIFF/WAVE — struct header walk +
    numpy view, no codec library. Returns (sample_rate, n_channels,
    samples) with samples shaped (n_frames, n_channels) int16."""
    import struct

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos:pos + 4], struct.unpack(
            "<I", content[pos + 4:pos + 8]
        )[0]
        body = content[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1 or bits != 16:
                raise ValueError("only 16-bit PCM supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    return rate, channels, samples.reshape(-1, channels)


def fake_decode_features(content: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode + feature extraction: byte-sum
    and first byte (exact integers — no float rounding ambiguity across
    engines). Replace with a real decoder in production."""
    if not content:
        return 0, -1
    return sum(content), content[0]


def decode_binary_assets(assets: DataFrame) -> DataFrame:
    """assets(doc_id: long, content: binary) → decoded feature rows.

    mapInPandas: each Arrow batch is a pandas DataFrame; output schema is
    fixed (DECODED_SCHEMA) so downstream plans are stable regardless of
    the decoder implementation.
    """
    import hashlib

    import pandas as pd

    # NOTE: the closure must be self-contained (no references to
    # module-level functions of this package): executors unpickle it in a
    # fresh worker process that may not have the package on PYTHONPATH.
    # configure_runtime's addPyFile covers the engine's own sessions; this
    # keeps the operator safe under ANY session.
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fake_features(content: bytes) -> tuple[int, int]:
            if not content:
                return 0, -1
            return sum(content), content[0]

        for pdf in batches:
            contents = pdf["content"]
            feats = [fake_features(c) for c in contents]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(c) if c is not None else 0 for c in contents],
                    "content_sha": [
                        hashlib.sha256(c or b"").hexdigest() for c in contents
                    ],
                    "feat_sum": [f[0] for f in feats],
                    "feat_first": [f[1] for f in feats],
                }
            )

    return assets.mapInPandas(decode, DECODED_SCHEMA)


IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("thumb_sha", T.StringType()),  # 8x8 NN thumbnail
        T.StructField("decode_error", T.StringType()),
    ]
)

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def image_features(assets: DataFrame) -> DataFrame:
    """assets(doc_id, content: binary PPM, **8-bit PNG, GIF or
    baseline JPEG**) → real
    decoded image features (dimensions, per-channel means, sha of an 8x8
    nearest-neighbor thumbnail). Format dispatch by magic bytes. Bad
    inputs yield a row with decode_error instead of failing the batch —
    at 100 TB a corrupt asset must quarantine, not kill the job.
    Closure is self-contained (see decode_binary_assets)."""
    import hashlib

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        import numpy as np

        def png(content):
            # mirrors module-level decode_png (self-contained closure)
            pos, ihdr, plte, idat = 8, None, None, []
            while pos + 8 <= len(content):
                length, ctype = struct.unpack(">I4s", content[pos:pos + 8])
                body = content[pos + 8:pos + 8 + length]
                if ctype == b"IHDR":
                    ihdr = struct.unpack(">IIBBBBB", body)
                elif ctype == b"PLTE":
                    plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
                elif ctype == b"IDAT":
                    idat.append(body)
                elif ctype == b"IEND":
                    break
                pos += 12 + length
            if ihdr is None or not idat:
                raise ValueError("missing IHDR/IDAT chunk")
            w, h, depth, color, _c, _f, interlace = ihdr
            if depth != 8 or interlace:
                raise ValueError("only 8-bit non-interlaced PNG supported")
            channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
            if channels is None:
                raise ValueError(f"bad PNG color type {color}")
            raw = zlib.decompress(b"".join(idat))
            stride = w * channels
            if len(raw) < h * (stride + 1):
                raise ValueError("truncated PNG raster")
            arr = np.frombuffer(raw, np.uint8,
                                count=h * (stride + 1)).reshape(h, stride + 1)
            out = np.zeros((h, stride), np.int64)
            prev = np.zeros(stride, np.int64)
            bpp = channels
            for y in range(h):
                f, cur = int(arr[y, 0]), arr[y, 1:].astype(np.int64)
                if f == 0:
                    rec = cur
                elif f == 2:
                    rec = (cur + prev) & 0xFF
                elif f in (1, 3, 4):
                    rec = cur
                    for x in range(stride):
                        a = rec[x - bpp] if x >= bpp else 0
                        if f == 1:
                            pred = a
                        elif f == 3:
                            pred = (a + prev[x]) >> 1
                        else:
                            b = prev[x]
                            c = prev[x - bpp] if x >= bpp else 0
                            p = a + b - c
                            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                            pred = a if pa <= pb and pa <= pc else (
                                b if pb <= pc else c
                            )
                        rec[x] = (rec[x] + pred) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter type {f}")
                out[y] = rec
                prev = rec
            px = out.astype(np.uint8).reshape(h, w, channels)
            if color == 3:
                if plte is None:
                    raise ValueError("palette PNG missing PLTE")
                rgb = plte[px[:, :, 0]]
            elif color == 0:
                rgb = np.repeat(px, 3, axis=2)
            elif color == 4:
                rgb = np.repeat(px[:, :, :1], 3, axis=2)
            else:
                rgb = px[:, :, :3]
            return w, h, np.ascontiguousarray(rgb)

        def ppm(content):
            if not content.startswith(b"P6"):
                raise ValueError("not a P6 PPM")
            fields, i = [], 2
            while len(fields) < 3:
                while i < len(content) and content[i:i + 1].isspace():
                    i += 1
                if content[i:i + 1] == b"#":
                    while i < len(content) and content[i:i + 1] != b"\n":
                        i += 1
                    continue
                j = i
                while j < len(content) and not content[j:j + 1].isspace():
                    j += 1
                fields.append(content[i:j])
                i = j
            i += 1
            w, h, maxval = (int(f) for f in fields)
            if maxval > 255:
                raise ValueError("16-bit PPM unsupported")
            px = np.frombuffer(content, dtype=np.uint8, count=w * h * 3,
                               offset=i).reshape(h, w, 3)
            return w, h, px

        def resize_nn(px, ow, oh):
            h, w = px.shape[:2]
            rows = (np.arange(oh) * h // oh).astype(np.int64)
            cols = (np.arange(ow) * w // ow).astype(np.int64)
            return px[rows[:, None], cols[None, :]]

        def gif_lzw(data, min_code, expected):
            # mirrors module-level _gif_lzw_decode (self-contained closure)
            clear, end = 1 << min_code, (1 << min_code) + 1
            code_size, next_code = min_code + 1, (1 << min_code) + 2
            table = {i: (i,) for i in range(clear)}
            out, prev = [], None
            bitpos, total = 0, len(data) * 8
            while bitpos + code_size <= total and len(out) < expected:
                bi = bitpos // 8
                chunk = int.from_bytes(data[bi:bi + 3], "little")
                code = (chunk >> (bitpos % 8)) & ((1 << code_size) - 1)
                bitpos += code_size
                if code == clear:
                    code_size, next_code = min_code + 1, end + 1
                    table = {i: (i,) for i in range(clear)}
                    prev = None
                    continue
                if code == end:
                    break
                if prev is None:
                    entry = table[code]
                elif code in table:
                    entry = table[code]
                elif code == next_code:
                    entry = prev + (prev[0],)
                else:
                    raise ValueError(f"bad LZW code {code}")
                if prev is not None:
                    table[next_code] = prev + (entry[0],)
                    next_code += 1
                    if next_code == (1 << code_size) and code_size < 12:
                        code_size += 1
                out.extend(entry)
                prev = entry
            if len(out) < expected:
                raise ValueError("truncated LZW stream")
            return out[:expected]

        def gif(content):
            # mirrors module-level decode_gif (self-contained closure)
            if content[:6] not in (b"GIF87a", b"GIF89a"):
                raise ValueError("not a GIF")
            packed = content[10]
            pos, gct = 13, None
            if packed & 0x80:
                n = 2 ** ((packed & 7) + 1)
                gct = np.frombuffer(content[pos:pos + 3 * n],
                                    np.uint8).reshape(-1, 3)
                pos += 3 * n
            while pos < len(content):
                block = content[pos]
                if block == 0x21:
                    pos += 2
                    while content[pos] != 0:
                        pos += 1 + content[pos]
                    pos += 1
                elif block == 0x2C:
                    _l, _t, iw, ih, ipacked = struct.unpack(
                        "<HHHHB", content[pos + 1:pos + 10]
                    )
                    pos += 10
                    lct = gct
                    if ipacked & 0x80:
                        n = 2 ** ((ipacked & 7) + 1)
                        lct = np.frombuffer(content[pos:pos + 3 * n],
                                            np.uint8).reshape(-1, 3)
                        pos += 3 * n
                    if lct is None:
                        raise ValueError("GIF image has no color table")
                    min_code = content[pos]
                    pos += 1
                    if not 2 <= min_code <= 11:
                        raise ValueError("bad LZW min code size")
                    data = bytearray()
                    while content[pos] != 0:
                        ln = content[pos]
                        data += content[pos + 1:pos + 1 + ln]
                        pos += 1 + ln
                    pos += 1
                    idx = np.array(
                        gif_lzw(bytes(data), min_code, iw * ih), np.int32
                    ).reshape(ih, iw)
                    if int(idx.max(initial=0)) >= len(lct):
                        raise ValueError("palette index out of range")
                    if ipacked & 0x40:
                        order = np.concatenate([
                            np.arange(0, ih, 8), np.arange(4, ih, 8),
                            np.arange(2, ih, 4), np.arange(1, ih, 2),
                        ])
                        deint = np.empty_like(idx)
                        deint[order] = idx
                        idx = deint
                    return iw, ih, np.ascontiguousarray(lct[idx])
                elif block == 0x3B:
                    break
                else:
                    raise ValueError(f"bad GIF block 0x{block:02x}")
            raise ValueError("no image data in GIF")

        # JPEG rides the packaged codec module (operators/jpeg.py): it
        # is too large to mirror inline, so executors need the package
        # importable (true in local mode; ship via --py-files/pex on a
        # cluster). Import failure degrades to per-row error capture —
        # the quarantine contract, not a job failure.
        try:
            from fda_clinical_etl_pipeline_spark.operators.jpeg import (
                decode_jpeg as jpg,
            )
        except Exception:  # pragma: no cover — package not shipped
            def jpg(content):
                raise ValueError("jpeg codec module not importable")

        for pdf in batches:
            out = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    data = content or b""
                    if data.startswith(b"\x89PNG\r\n\x1a\n"):
                        w, h, px = png(data)
                    elif data[:6] in (b"GIF87a", b"GIF89a"):
                        w, h, px = gif(data)
                    elif data[:2] == b"\xff\xd8":
                        w, h, px = jpg(data)
                    elif data[:2] == b"BM" and len(data) >= 54:
                        from fda_clinical_etl_pipeline_spark.operators \
                            .multimodal import decode_bmp

                        w, h, px = decode_bmp(data)
                    elif data[:4] in (b"II*\x00", b"MM\x00*"):
                        from fda_clinical_etl_pipeline_spark.operators \
                            .multimodal import decode_tiff

                        w, h, px = decode_tiff(data)
                    elif len(data) >= 132 and data[128:132] == b"DICM":
                        from fda_clinical_etl_pipeline_spark.operators \
                            .multimodal import decode_dicom

                        rr, cc, gray = decode_dicom(data)
                        # grayscale (possibly 16-bit) → 8-bit RGB for
                        # the shared feature path
                        if gray.dtype.itemsize == 2:
                            gray = (gray >> 8).astype("uint8")
                        px = np.repeat(gray[:, :, None], 3, axis=2)
                        w, h = cc, rr
                    else:
                        w, h, px = ppm(data)
                    means = px.reshape(-1, 3).mean(axis=0)
                    thumb = resize_nn(px, 8, 8)
                    out.append((doc_id, w, h, float(means[0]),
                                float(means[1]), float(means[2]),
                                hashlib.sha256(thumb.tobytes()).hexdigest(),
                                None))
                except Exception as exc:
                    out.append((doc_id, None, None, None, None, None, None,
                                str(exc)[:200]))
            yield pd.DataFrame(
                out, columns=[f.name for f in IMAGE_SCHEMA.fields]
            )

    return assets.mapInPandas(run, IMAGE_SCHEMA)


def audio_features(assets: DataFrame) -> DataFrame:
    """assets(doc_id, content: binary WAV/PCM16) → real decoded audio
    features (rate, channels, frames, RMS). Same error-row contract as
    image_features."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        def wav(content):
            if content[:4] == b"fLaC":
                # lossless path: FLAC via the packaged codec — joins
                # PCM16/ADPCM/G.711 in the same feature contract
                from fda_clinical_etl_pipeline_spark.operators.flac \
                    import decode_flac

                rate, channels, samples = decode_flac(content)
                return rate, channels, samples
            if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
                raise ValueError("not a RIFF/WAVE file")
            pos, rate, channels, data = 12, None, None, None
            while pos + 8 <= len(content):
                cid = content[pos:pos + 4]
                size = struct.unpack("<I", content[pos + 4:pos + 8])[0]
                body = content[pos + 8:pos + 8 + size]
                if cid == b"fmt ":
                    fmt, channels, rate = struct.unpack("<HHI", body[:8])
                    if fmt == 0x11:
                        # compressed path: IMA ADPCM via the packaged
                        # codec (same shipping note as the JPEG import
                        # in image_features)
                        from fda_clinical_etl_pipeline_spark.operators \
                            .multimodal import decode_wav_ima_adpcm

                        return decode_wav_ima_adpcm(content)
                    if fmt in (6, 7):
                        # G.711 A-law / mu-law telephony audio
                        from fda_clinical_etl_pipeline_spark.operators \
                            .multimodal import decode_wav_g711

                        return decode_wav_g711(content)
                    bits = struct.unpack("<H", body[14:16])[0]
                    if fmt != 1 or bits != 16:
                        raise ValueError("only 16-bit PCM supported")
                elif cid == b"data":
                    data = body
                pos += 8 + size + (size & 1)
            if rate is None or data is None:
                raise ValueError("missing fmt/data chunk")
            return rate, channels, np.frombuffer(
                data, dtype="<i2"
            ).reshape(-1, channels)

        for pdf in batches:
            out = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    rate, ch, samples = wav(content or b"")
                    rms = float(
                        np.sqrt((samples.astype(np.float64) ** 2).mean())
                    )
                    out.append((doc_id, rate, ch, samples.shape[0],
                                round(rms, 6), None))
                except Exception as exc:
                    out.append((doc_id, None, None, None, None,
                                str(exc)[:200]))
            yield pd.DataFrame(
                out, columns=[f.name for f in AUDIO_SCHEMA.fields]
            )

    return assets.mapInPandas(run, AUDIO_SCHEMA)


@register(
    "multimodal_decode_features",
    """
    SELECT doc_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           sha256(text)                               AS content_sha,
           CASE WHEN LENGTH(text) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(list_sum(list_transform(
                       range(1, LENGTH(text) + 1),
                       i -> CAST(ascii(text[i]) AS BIGINT))) AS BIGINT)
           END AS feat_sum,
           CASE WHEN LENGTH(text) = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(ascii(text[1]) AS BIGINT)
           END AS feat_first
    FROM documents
    """,
    doc="Multimodal plumbing demo: documents.text treated as opaque bytes "
        "(binary column), decoded via Arrow-batched mapInPandas with a "
        "deterministic fake decoder. Schema/partitioning/batching are the "
        "real production shape; only the codec is stubbed.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    assets = documents.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("content")
    )
    return decode_binary_assets(assets)


# --- IMA ADPCM (WAVE format tag 0x11) --------------------------------------
#
# Real COMPRESSED-audio decode, no codec library: IMA/DVI4 ADPCM is a
# public spec (IMA Digital Audio Focus Group, 1992; WAVE tag 0x11) with
# 4 bits/sample. Joins PCM16 as a decodable audio format; MP3 stays
# env-gated.

_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def _ima_decode_nibble(nibble, predictor, index):
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        predictor -= diff
    else:
        predictor += diff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX[nibble]))
    return predictor, index


def _ima_encode_sample(sample, predictor, index):
    step = _IMA_STEPS[index]
    delta = sample - predictor
    nibble = 0
    if delta < 0:
        nibble = 8
        delta = -delta
    if delta >= step:
        nibble |= 4
        delta -= step
    if delta >= step >> 1:
        nibble |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        nibble |= 1
    predictor, index = _ima_decode_nibble(nibble, predictor, index)
    return nibble, predictor, index


def decode_wav_ima_adpcm(content: bytes):
    """RIFF/WAVE with wFormatTag 0x11 (IMA ADPCM, mono) → (rate,
    channels, samples int16 (n, 1)). Block structure per spec: 4-byte
    header (int16 predictor, uint8 step index, reserved) then 4-bit
    samples, low nibble first. Raises ValueError for anything else —
    same quarantine contract as the other decoders (struct/index
    failures on truncated streams normalized, like decode_png)."""
    import struct

    import numpy as np

    try:
        return _decode_ima_checked(content, struct, np)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt ADPCM WAV: {exc}") from exc


def _decode_ima_checked(content: bytes, struct, np):
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, channels, block_align, data = 12, None, None, None, None
    while pos + 8 <= len(content):
        cid = content[pos:pos + 4]
        size = struct.unpack("<I", content[pos + 4:pos + 8])[0]
        body = content[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            block_align = struct.unpack("<H", body[12:14])[0]
            if fmt != 0x11:
                raise ValueError("not IMA ADPCM (wFormatTag != 0x11)")
            if channels != 1:
                raise ValueError("only mono IMA ADPCM supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if rate is None or data is None or block_align is None:
        raise ValueError("missing fmt/data chunk")
    out: list[int] = []
    for b0 in range(0, len(data) - 3, block_align):
        block = data[b0:b0 + block_align]
        predictor = struct.unpack("<h", block[0:2])[0]
        index = block[2]
        if index > 88:
            raise ValueError("bad ADPCM step index")
        out.append(predictor)
        for byte in block[4:]:
            for nibble in (byte & 0xF, byte >> 4):
                predictor, index = _ima_decode_nibble(
                    nibble, predictor, index
                )
                out.append(predictor)
    samples = np.array(out, dtype=np.int16).reshape(-1, 1)
    return rate, 1, samples


def encode_wav_ima_adpcm(
    samples, rate: int = 16000, block_samples: int = 505
) -> bytes:
    """Mono int16 samples → IMA ADPCM WAVE bytes (the fixture/sink path
    for round-trip testing; block of 505 samples = 256-byte blocks, the
    spec's canonical sizing)."""
    import struct

    import numpy as np

    samples = np.asarray(samples, np.int16).reshape(-1)
    block_align = (block_samples - 1) // 2 + 4
    blocks = bytearray()
    i = 0
    index = 0
    while i < len(samples):
        chunk = samples[i:i + block_samples]
        i += block_samples
        predictor = int(chunk[0])
        blocks += struct.pack("<hBB", predictor, index, 0)
        nibbles: list[int] = []
        for s in chunk[1:]:
            nib, predictor, index = _ima_encode_sample(
                int(s), predictor, index
            )
            nibbles.append(nib)
        if len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
        pad = block_align - 4 - len(nibbles) // 2
        blocks += b"\x00" * pad
    byte_rate = rate * block_align // block_samples
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, byte_rate, block_align, 4, 2,
        block_samples,
    )
    out = bytearray()
    out += b"RIFF" + struct.pack(
        "<I", 4 + 8 + len(fmt) + 8 + len(blocks)
    ) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    return bytes(out)


# --- animated GIF: multi-frame decode + frame sampling ----------------------
#
# The "video" leg of the multimodal surface with a REAL multi-frame
# format: animated GIF89a. Frame iteration, per-frame transparency and
# canvas compositing are pure Python/numpy; frame SAMPLING (every Nth
# frame, bounded per asset) runs as a mapInPandas operator — the exact
# plumbing an H.264 frame sampler needs, with the codec call swapped.


def decode_gif_frames(content: bytes, max_frames: int | None = None):
    """Animated GIF → list of (width, height, rgb) COMPOSITED frames:
    each image block is drawn onto the logical-screen canvas at its
    (left, top) offset, honoring the GCE transparent index (transparent
    pixels keep the previous canvas) and disposal method 2 (restore the
    frame's region to background after rendering). Raises ValueError on
    corrupt input — quarantine contract."""
    import struct

    import numpy as np

    try:
        return _decode_gif_frames_checked(content, struct, np, max_frames)
    except (struct.error, IndexError, KeyError) as exc:
        raise ValueError(f"corrupt GIF: {exc!r}") from exc


def _decode_gif_frames_checked(content, struct, np, max_frames):
    if content[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF")
    sw, sh, packed, bg, _ar = struct.unpack("<HHBBB", content[6:13])
    if sw * sh > _GIF_MAX_CANVAS_PIXELS:
        raise ValueError(
            f"GIF logical screen {sw}x{sh} is past the "
            "decompression-bomb limit"
        )
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 7) + 1)
        gct = np.frombuffer(content[pos:pos + 3 * n],
                            np.uint8).reshape(-1, 3)
        pos += 3 * n
    bg_rgb = (
        gct[bg] if gct is not None and bg < len(gct)
        else np.zeros(3, np.uint8)
    )
    canvas = np.zeros((sh, sw, 3), np.uint8)
    canvas[:, :] = bg_rgb
    frames: list[tuple[int, int, "np.ndarray"]] = []
    transparent = None
    disposal = 0
    while pos < len(content):
        block = content[pos]
        if block == 0x21:  # extension
            label = content[pos + 1]
            pos += 2
            subs = []
            while content[pos] != 0:
                ln = content[pos]
                subs.append(content[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9 and subs:  # graphics control extension
                gce = subs[0]
                disposal = (gce[0] >> 2) & 7
                transparent = gce[3] if gce[0] & 1 else None
        elif block == 0x2C:  # image descriptor
            left, top, iw, ih, ipacked = struct.unpack(
                "<HHHHB", content[pos + 1:pos + 10]
            )
            pos += 10
            lct = gct
            if ipacked & 0x80:
                n = 2 ** ((ipacked & 7) + 1)
                lct = np.frombuffer(content[pos:pos + 3 * n],
                                    np.uint8).reshape(-1, 3)
                pos += 3 * n
            if lct is None:
                raise ValueError("GIF image has no color table")
            min_code = content[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                raise ValueError(f"bad LZW min code size {min_code}")
            data = bytearray()
            while content[pos] != 0:
                ln = content[pos]
                data += content[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = np.array(
                _gif_lzw_decode(bytes(data), min_code, iw * ih), np.int32
            ).reshape(ih, iw)
            if int(idx.max(initial=0)) >= len(lct):
                raise ValueError("palette index out of range")
            if ipacked & 0x40:
                order = np.concatenate([
                    np.arange(0, ih, 8), np.arange(4, ih, 8),
                    np.arange(2, ih, 4), np.arange(1, ih, 2),
                ])
                deint = np.empty_like(idx)
                deint[order] = idx
                idx = deint
            region = canvas[top:top + ih, left:left + iw]
            rgb = lct[idx]
            if transparent is not None:
                mask = (idx != transparent)[:, :, None]
                region[:] = np.where(mask, rgb, region)
            else:
                region[:] = rgb
            frames.append((sw, sh, canvas.copy()))
            if disposal == 2:  # restore region to background
                canvas[top:top + ih, left:left + iw] = bg_rgb
            transparent = None
            disposal = 0
            if max_frames is not None and len(frames) >= max_frames:
                return frames
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("no image data in GIF")
    return frames


def encode_gif_animation(frame_indices, palette, delay_cs: int = 10) -> bytes:
    """Multi-frame GIF89a encoder (global palette, full-canvas frames,
    per-frame GCE with delay) — the write-side twin of
    ``decode_gif_frames`` for tests. ``frame_indices`` is a list of
    (h, w) uint8 index arrays sharing one palette."""
    import struct

    import numpy as np

    frames = [np.asarray(f, np.uint8) for f in frame_indices]
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape
    singles = [encode_gif(f, palette) for f in frames]
    # splice: header+GCT from the first, then per-frame GCE + image block
    first = singles[0]
    pal_bits = max(
        2, int(np.ceil(np.log2(max(len(np.asarray(palette)), 2))))
    )
    hdr_len = 13 + 3 * (2 ** pal_bits)
    out = bytearray(first[:hdr_len])
    for single in singles:
        out += (
            b"\x21\xF9\x04"
            + bytes([0x00]) + struct.pack("<H", delay_cs) + b"\x00\x00"
        )
        out += single[hdr_len:-1]  # image descriptor..data, minus trailer
    out += b"\x3B"
    return bytes(out)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("thumb_sha", T.StringType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def video_frame_features(
    assets: DataFrame, every_n: int = 2, max_frames: int = 8
) -> DataFrame:
    """assets(doc_id, content: animated GIF) → one row per SAMPLED frame
    (every ``every_n``-th, at most ``max_frames`` per asset): the
    frame-sampling plumbing of a video pipeline — bounded per-asset
    output, per-row error capture, Arrow-batched. An H.264 deployment
    swaps the decode call; schema, batching, sampling, and quarantine
    semantics are already exactly this."""
    import hashlib

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fda_clinical_etl_pipeline_spark.operators.multimodal import (
            decode_avi_frames,
            decode_gif_frames,
            resize_image_nn,
        )

        for pdf in batches:
            out = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    raw = bytes(content or b"")
                    # magic-byte container dispatch: MJPEG AVI or
                    # animated GIF (H.264 is env-gated; an H.264
                    # deployment adds one more branch here)
                    decode = (
                        decode_avi_frames
                        if raw[:4] == b"RIFF" and raw[8:12] == b"AVI "
                        else decode_gif_frames
                    )
                    frames = decode(
                        raw,
                        max_frames=max_frames * every_n,
                    )
                    sampled = frames[::every_n][:max_frames]
                    for i, (w, h, px) in enumerate(sampled):
                        means = px.reshape(-1, 3).mean(axis=0)
                        thumb = resize_image_nn(px, 8, 8)
                        out.append(
                            (doc_id, i * every_n, w, h,
                             float(means[0]), float(means[1]),
                             float(means[2]),
                             hashlib.sha256(thumb.tobytes()).hexdigest(),
                             None)
                        )
                except Exception as exc:
                    out.append((doc_id, None, None, None, None, None,
                                None, None, str(exc)[:200]))
            yield pd.DataFrame(
                out, columns=[f.name for f in FRAME_SCHEMA.fields]
            )

    return assets.mapInPandas(run, FRAME_SCHEMA)


# --- AVI / Motion-JPEG video container --------------------------------------
#
# A REAL video container behind the frame-sampling operator: AVI is the
# RIFF-based format from Microsoft's public "AVI RIFF File Reference",
# and Motion JPEG stores every frame as a complete baseline JFIF stream
# — which this repo already decodes for real (operators/jpeg.py,
# cross-validated against the JVM's javax.imageio). H.264/H.265 stay
# env-gated; everything container-side (chunk walk, stream headers,
# index, frame sampling, quarantine) is codec-agnostic and real.


def decode_avi_frames(content: bytes, max_frames: int | None = None):
    """AVI (RIFF) Motion-JPEG → list of (width, height, HxWx3 uint8)
    frames, decoded via the in-repo baseline JPEG codec.

    Walks LIST chunks to 'movi' and decodes each video data chunk
    ('NNdc'/'NNdb') whose payload is a JFIF stream. Raises ValueError —
    and only ValueError — on anything that is not a decodable MJPEG AVI
    (the quarantine contract shared by every decoder here).
    """
    import struct

    try:
        return _decode_avi_checked(content, struct, max_frames)
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001 — normalize for quarantine
        raise ValueError(f"corrupt AVI stream: {exc!r}") from exc


def _decode_avi_checked(content: bytes, struct, max_frames):
    if (
        len(content) < 12
        or content[:4] != b"RIFF"
        or content[8:12] != b"AVI "
    ):
        raise ValueError("not a RIFF/AVI file")
    from fda_clinical_etl_pipeline_spark.operators.jpeg import decode_jpeg

    riff_end = min(len(content), 8 + struct.unpack("<I", content[4:8])[0])
    frames: list = []

    def walk(pos: int, end: int, in_movi: bool) -> None:
        while pos + 8 <= end:
            cid = content[pos:pos + 4]
            size = struct.unpack("<I", content[pos + 4:pos + 8])[0]
            body, body_end = pos + 8, pos + 8 + size
            if body_end > end:
                raise ValueError("chunk overruns container")
            if cid in (b"LIST", b"RIFF"):
                ltype = content[body:body + 4]
                walk(body + 4, body_end, in_movi or ltype == b"movi")
            elif in_movi and cid[2:4] in (b"dc", b"db") and size > 0:
                payload = content[body:body_end]
                if payload[:2] != b"\xff\xd8":
                    raise ValueError(
                        "non-JPEG video chunk (only MJPEG is decodable "
                        "here; H.264 is env-gated)"
                    )
                frames.append(decode_jpeg(bytes(payload)))
            if max_frames is not None and len(frames) >= max_frames:
                return
            pos = body_end + (size & 1)  # chunks are word-aligned

    walk(12, riff_end, False)
    if not frames:
        raise ValueError("no MJPEG frames in AVI movi list")
    return frames


def probe_avi(content: bytes) -> dict:
    """Metadata-only AVI probe from the 'avih' main header: width,
    height, total frames, and fps — no frame decode, O(header) work.
    The shape a 100 TB video pipeline uses to PARTITION work (frames
    per asset → sampling plan) before paying any codec cost."""
    import struct

    try:
        if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
            raise ValueError("not a RIFF/AVI file")
        idx = content.find(b"avih")
        if idx < 0 or idx + 8 + 40 > len(content):
            raise ValueError("missing avih header")
        (us_per_frame, _max_bps, _pad, _flags, total_frames, _init,
         _streams, _sugg, width, height) = struct.unpack(
            "<10I", content[idx + 8:idx + 48]
        )
        return {
            "width": width,
            "height": height,
            "total_frames": total_frames,
            "fps": round(1e6 / us_per_frame, 3) if us_per_frame else None,
        }
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"corrupt AVI header: {exc!r}") from exc


def encode_avi_mjpeg(frames, fps: int = 10, quality: int = 90) -> bytes:
    """RGB frames (each HxWx3 uint8, same dims) → spec-shaped MJPEG AVI:
    hdrl (avih + strl/strh/strf with biCompression='MJPG'), movi with
    one '00dc' JPEG per frame, and an idx1 keyframe index. Test-side
    twin of decode_avi_frames; also what a migration job uses to write
    MJPEG fixtures."""
    import struct

    from fda_clinical_etl_pipeline_spark.operators.jpeg import encode_jpeg

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(fr, quality=quality) for fr in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    max_sz = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<10I16x",
        int(1e6 // fps), max_sz * fps, 0, 0x10,  # AVIF_HASINDEX
        len(jpegs), 0, 1, max_sz, w, h,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps, 0, len(jpegs), max_sz, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh)
                                   + chunk(b"strf", strf)),
    )
    movi_body = b""
    index = []
    for j in jpegs:
        # idx1 offsets are relative to the 'movi' fourcc (first = 4)
        index.append((4 + len(movi_body), len(j)))
        movi_body += chunk(b"00dc", j)
    movi = lst(b"movi", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            struct.pack("<4sIII", b"00dc", 0x10, off, sz)
            for off, sz in index
        ),
    )
    payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


# --- G.711 mu-law / A-law telephony audio (WAVE tags 0x07 / 0x06) -----------
#
# Real compressed telephony audio, straight from the ITU-T G.711 spec:
# 8-bit logarithmic codewords <-> 16-bit linear PCM, fully vectorized
# (numpy table-free companding). Joins PCM16 and IMA-ADPCM as decodable
# WAV formats in audio_features; the classic validation — every one of
# the 256 codewords survives decode->encode exactly — is pinned in
# tests.


def _g711_expand_ulaw(np, codes):
    """uint8 mu-law codewords → int16 linear (G.711 Table 2a/2b)."""
    u = (~codes.astype(np.int32)) & 0xFF
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    magnitude = (((mantissa << 3) + 0x84) << exponent) - 0x84
    return np.where(u & 0x80, -magnitude, magnitude).astype(np.int16)


def _g711_compress_ulaw(np, samples):
    """int16 linear → uint8 mu-law codewords."""
    s = samples.astype(np.int32)
    sign = np.where(s < 0, 0x80, 0x00)
    mag = np.minimum(np.abs(s), 32635) + 0x84
    # exponent = floor(log2(mag)) - 7, in 0..7 (mag >= 0x84 => >= 7)
    exponent = (np.frexp(mag.astype(np.float64))[1] - 8).astype(np.int32)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return (~(sign | (exponent << 4) | mantissa) & 0xFF).astype(np.uint8)


def _g711_expand_alaw(np, codes):
    """uint8 A-law codewords → int16 linear (G.711 Table 1a/1b)."""
    a = codes.astype(np.int32) ^ 0x55
    exponent = (a >> 4) & 0x07
    mantissa = a & 0x0F
    magnitude = np.where(
        exponent == 0,
        (mantissa << 4) + 8,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
    )
    return np.where(a & 0x80, magnitude, -magnitude).astype(np.int16)


def _g711_compress_alaw(np, samples):
    """int16 linear → uint8 A-law codewords."""
    s = samples.astype(np.int32)
    sign = np.where(s >= 0, 0x80, 0x00)
    mag = np.minimum(np.abs(s), 32767)
    exponent = np.maximum(
        (np.frexp(np.maximum(mag, 1).astype(np.float64))[1] - 8), 0
    ).astype(np.int32)
    mantissa = np.where(
        exponent == 0, mag >> 4, (mag >> (exponent + 3)) & 0x0F
    )
    return ((sign | (exponent << 4) | mantissa) ^ 0x55).astype(np.uint8)


def decode_wav_g711(content: bytes):
    """RIFF/WAVE with format tag 6 (A-law) or 7 (mu-law) → (sample_rate,
    n_channels, int16 samples shaped (frames, channels)). Raises
    ValueError only — quarantine contract."""
    import struct

    import numpy as np

    try:
        return _decode_g711_checked(content, struct, np)
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001 — normalize for quarantine
        raise ValueError(f"corrupt G.711 WAV: {exc!r}") from exc


def _decode_g711_checked(content: bytes, struct, np):
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, rate, channels, data = 12, None, None, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos:pos + 4], struct.unpack(
            "<I", content[pos + 4:pos + 8]
        )[0]
        body = content[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt not in (6, 7):
        raise ValueError(f"not a G.711 WAV (format tag {fmt})")
    if rate is None or data is None or not channels:
        raise ValueError("missing fmt/data chunk")
    codes = np.frombuffer(data, dtype=np.uint8)
    codes = codes[: (len(codes) // channels) * channels]
    pcm = (
        _g711_expand_ulaw(np, codes)
        if fmt == 7
        else _g711_expand_alaw(np, codes)
    )
    return rate, channels, pcm.reshape(-1, channels)


def encode_wav_g711(samples, sample_rate: int, law: str = "ulaw") -> bytes:
    """int16 samples (frames, channels) → G.711 WAV bytes (tag 7 for
    'ulaw', 6 for 'alaw'). Write-side twin of decode_wav_g711."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    channels = arr.shape[1]
    if law == "ulaw":
        tag, codes = 7, _g711_compress_ulaw(np, arr.reshape(-1))
    elif law == "alaw":
        tag, codes = 6, _g711_compress_alaw(np, arr.reshape(-1))
    else:
        raise ValueError("law must be 'ulaw' or 'alaw'")
    body = codes.tobytes()
    fmt = struct.pack(
        "<HHIIHH", tag, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    out = bytearray()
    out += b"RIFF" + struct.pack(
        "<I", 4 + 8 + len(fmt) + 8 + len(body) + (len(body) & 1)
    ) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        out += b"\x00"
    return bytes(out)


# --- MPEG audio (MP3) metadata probe ----------------------------------------
#
# MP3 DECODE stays env-gated (no codec library; Layer III needs the
# full Huffman/IMDCT stack), but frame-header METADATA is a public,
# trivially-parsed format (ISO/IEC 11172-3) — and metadata is what a
# 100 TB ingest actually needs first: bitrate/duration/channels to
# partition and cost the decode work before scheduling it.

_MPEG_BITRATES = {  # kbps; (version_group, layer) -> index table
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
}
_MPEG_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000],
               0: [11025, 12000, 8000]}


def probe_mpeg_audio(content: bytes) -> dict:
    """Walk MPEG audio frames (MP1/MP2/MP3, skipping an ID3v2 tag) and
    return {'version', 'layer', 'bitrate_kbps', 'sample_rate',
    'channels', 'n_frames', 'duration_s'}. Header-only — no decode.
    Raises ValueError only."""
    try:
        return _probe_mpeg_checked(content)
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"corrupt MPEG audio: {exc!r}") from exc


def _parse_vbr_header(frame: bytes, version_bits: int,
                      channels: int) -> dict | None:
    """Xing/Info (LAME) or VBRI (Fraunhofer) VBR header inside the
    FIRST Layer-III frame: the O(1) source of the exact frame count
    (and byte count) for variable-bitrate files — without it a VBR
    duration estimated from the first frame's bitrate is wrong by the
    bitrate spread. Returns {'frames': n|None, 'bytes': n|None,
    'kind': 'xing'|'info'|'vbri'} or None."""
    import struct

    # Xing lives after the side info: MPEG1 17(mono)/32(stereo),
    # MPEG2/2.5 9(mono)/17(stereo) bytes past the 4-byte header
    if version_bits == 3:
        off = 4 + (17 if channels == 1 else 32)
    else:
        off = 4 + (9 if channels == 1 else 17)
    tag = frame[off:off + 4]
    if tag in (b"Xing", b"Info") and len(frame) >= off + 8:
        flags = struct.unpack(">I", frame[off + 4:off + 8])[0]
        p = off + 8
        out = {"frames": None, "bytes": None,
               "kind": "xing" if tag == b"Xing" else "info"}
        if flags & 0x1 and len(frame) >= p + 4:  # FRAMES
            out["frames"] = struct.unpack(">I", frame[p:p + 4])[0]
            p += 4
        if flags & 0x2 and len(frame) >= p + 4:  # BYTES
            out["bytes"] = struct.unpack(">I", frame[p:p + 4])[0]
        return out
    # VBRI: fixed 32 bytes past the header (MPEG1 stereo only in
    # practice); frame count at +14, byte count at +10
    if frame[36:40] == b"VBRI" and len(frame) >= 36 + 18:
        return {
            "frames": struct.unpack(">I", frame[36 + 14:36 + 18])[0],
            "bytes": struct.unpack(">I", frame[36 + 10:36 + 14])[0],
            "kind": "vbri",
        }
    return None


def _probe_mpeg_checked(content: bytes) -> dict:
    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        # syncsafe 28-bit tag size
        pos = 10 + (
            (content[6] << 21) | (content[7] << 14)
            | (content[8] << 7) | content[9]
        )
    first, n_frames, total_bits = None, 0, 0
    vbr = None
    while pos + 4 <= len(content):
        b1, b2, b3, _b4 = content[pos:pos + 4]
        if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
            raise ValueError(f"lost MPEG frame sync at byte {pos}")
        version_bits = (b2 >> 3) & 0x3   # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = 4 - ((b2 >> 1) & 0x3)    # coded 3/2/1 -> layer 1/2/3
        if version_bits == 1 or layer == 4:
            raise ValueError("reserved MPEG version/layer")
        vgroup = 1 if version_bits == 3 else 2
        bidx, ridx = (b3 >> 4) & 0xF, (b3 >> 2) & 0x3
        padding = (b3 >> 1) & 0x1
        if bidx in (0, 15) or ridx == 3:
            raise ValueError("free-format/bad bitrate or sample rate")
        bitrate = _MPEG_BITRATES[(vgroup, layer)][bidx] * 1000
        rate = _MPEG_RATES[version_bits][ridx]
        if layer == 1:
            frame_len = (12 * bitrate // rate + padding) * 4
            samples = 384
        else:
            per = 144 if (vgroup == 1 or layer == 2) else 72
            frame_len = per * bitrate // rate + padding
            samples = per * 8
        if first is None:
            first = {
                "version": {3: "MPEG1", 2: "MPEG2", 0: "MPEG2.5"}[
                    version_bits
                ],
                "layer": layer,
                "sample_rate": rate,
                "channels": 1 if ((content[pos + 3] >> 6) & 3) == 3
                else 2,
                "samples_per_frame": samples,
            }
            if layer == 3:
                vbr = _parse_vbr_header(
                    content[pos:pos + frame_len], version_bits,
                    first["channels"],
                )
        n_frames += 1
        total_bits += bitrate * samples // rate
        pos += frame_len
        if pos == len(content):
            break
    if first is None:
        raise ValueError("no MPEG audio frames")
    if vbr is not None and vbr.get("frames"):
        # authoritative O(1) duration: the header frame itself carries
        # no audio, so the count excludes it — as does the spec
        n_audio = vbr["frames"]
        duration = (
            n_audio * first["samples_per_frame"] / first["sample_rate"]
        )
        kbps = (
            round(vbr["bytes"] * 8 / max(duration, 1e-9) / 1000)
            if vbr.get("bytes") else
            round(total_bits / max(duration, 1e-9) / 1000)
        )
        return {
            "version": first["version"],
            "layer": first["layer"],
            "bitrate_kbps": kbps,
            "sample_rate": first["sample_rate"],
            "channels": first["channels"],
            "n_frames": n_audio,
            "duration_s": round(duration, 3),
        }
    duration = n_frames * first["samples_per_frame"] / first["sample_rate"]
    return {
        "version": first["version"],
        "layer": first["layer"],
        "bitrate_kbps": round(total_bits / max(duration, 1e-9) / 1000)
        if duration else 0,
        "sample_rate": first["sample_rate"],
        "channels": first["channels"],
        "n_frames": n_frames,
        "duration_s": round(duration, 3),
    }


# --- DICOM (medical imaging) ------------------------------------------------
#
# The clinical-domain image format: DICOM PS3.10 file format (public,
# dicom.nema.org) — 128-byte preamble + 'DICM', explicit-VR
# little-endian data elements. Real header parse (patient/modality/
# geometry tags) and real pixel decode for uncompressed MONOCHROME
# 8/16-bit — the shapes a clinical ingest needs before any codec
# library is involved; JPEG-compressed transfer syntaxes route through
# the in-repo baseline JPEG codec when present, else quarantine.

_DICOM_LONG_VRS = {b"OB", b"OW", b"OF", b"SQ", b"UT", b"UN"}
_TS_EXPLICIT_LE = "1.2.840.10008.1.2.1"


def _dicom_elements(content: bytes, struct):
    """Yield (group, element, vr, value_bytes) from an explicit-VR
    little-endian DICOM stream (after preamble/DICM)."""
    pos = 132
    n = len(content)
    while pos + 8 <= n:
        group, element = struct.unpack("<HH", content[pos:pos + 4])
        vr = content[pos + 4:pos + 6]
        if vr in _DICOM_LONG_VRS:
            if pos + 12 > n:
                raise ValueError("truncated DICOM element header")
            (length,) = struct.unpack("<I", content[pos + 8:pos + 12])
            body = pos + 12
        else:
            (length,) = struct.unpack("<H", content[pos + 6:pos + 8])
            body = pos + 8
        if length == 0xFFFFFFFF:
            raise ValueError(
                "undefined-length DICOM element (encapsulated/"
                "sequence) unsupported"
            )
        if body + length > n:
            raise ValueError("DICOM element overruns file")
        yield group, element, vr, content[body:body + length]
        pos = body + length


def probe_dicom(content: bytes) -> dict:
    """Header-only metadata probe: patient id/name, modality, geometry,
    transfer syntax — the partition/cost pass before pixel decode.
    Raises ValueError only (quarantine contract)."""
    import struct

    try:
        if len(content) < 132 or content[128:132] != b"DICM":
            raise ValueError("not a DICOM part-10 file")
        want = {
            (0x0002, 0x0010): "transfer_syntax",
            (0x0008, 0x0060): "modality",
            (0x0010, 0x0010): "patient_name",
            (0x0010, 0x0020): "patient_id",
            (0x0028, 0x0010): "rows",
            (0x0028, 0x0011): "cols",
            (0x0028, 0x0100): "bits_allocated",
        }
        out: dict = {v: None for v in want.values()}
        for g, e, vr, val in _dicom_elements(content, struct):
            key = want.get((g, e))
            if key is None:
                continue
            if vr == b"US":
                out[key] = struct.unpack("<H", val[:2])[0]
            else:
                out[key] = val.decode("ascii", "replace").strip("\x00 ")
        return out
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001 — normalize for quarantine
        raise ValueError(f"corrupt DICOM: {exc!r}") from exc


def decode_dicom(content: bytes):
    """(rows, cols, pixels uint8/uint16 grayscale) from an explicit-VR
    little-endian DICOM with uncompressed MONOCHROME PixelData.
    Compressed transfer syntaxes raise ValueError naming the syntax —
    quarantined, never mis-decoded."""
    import struct

    import numpy as np

    try:
        if len(content) < 132 or content[128:132] != b"DICM":
            raise ValueError("not a DICOM part-10 file")
        rows = cols = bits = None
        ts = _TS_EXPLICIT_LE
        pixels = None
        for g, e, vr, val in _dicom_elements(content, struct):
            if (g, e) == (0x0002, 0x0010):
                ts = val.decode("ascii", "replace").strip("\x00 ")
            elif (g, e) == (0x0028, 0x0010):
                rows = struct.unpack("<H", val[:2])[0]
            elif (g, e) == (0x0028, 0x0011):
                cols = struct.unpack("<H", val[:2])[0]
            elif (g, e) == (0x0028, 0x0100):
                bits = struct.unpack("<H", val[:2])[0]
            elif (g, e) == (0x7FE0, 0x0010):
                pixels = val
        if ts not in (_TS_EXPLICIT_LE,):
            raise ValueError(
                f"compressed/unsupported transfer syntax {ts}"
            )
        if None in (rows, cols, bits) or pixels is None:
            raise ValueError("missing geometry or PixelData")
        dtype = {8: np.uint8, 16: np.uint16}.get(bits)
        if dtype is None:
            raise ValueError(f"unsupported BitsAllocated {bits}")
        need = rows * cols * (bits // 8)
        if len(pixels) < need:
            raise ValueError("truncated PixelData")
        arr = np.frombuffer(pixels[:need], dtype=f"<u{bits // 8}")
        return rows, cols, arr.reshape(rows, cols)
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"corrupt DICOM: {exc!r}") from exc


def encode_dicom(
    pixels,
    patient_id: str = "ANON",
    modality: str = "OT",
    transfer_syntax: str = _TS_EXPLICIT_LE,
) -> bytes:
    """Minimal valid part-10 explicit-VR-LE DICOM for a grayscale
    uint8/uint16 array — the write-side twin for tests and fixtures."""
    import struct

    import numpy as np

    px = np.asarray(pixels)
    bits = 8 if px.dtype == np.uint8 else 16
    rows, cols = px.shape

    def short_el(group, element, vr: bytes, val: bytes) -> bytes:
        if len(val) & 1:
            val += b"\x00" if vr != b"UI" else b"\x00"
        return struct.pack("<HH", group, element) + vr + struct.pack(
            "<H", len(val)
        ) + val

    def long_el(group, element, vr: bytes, val: bytes) -> bytes:
        if len(val) & 1:
            val += b"\x00"
        return struct.pack("<HH", group, element) + vr + b"\x00\x00" \
            + struct.pack("<I", len(val)) + val

    body = b"".join([
        short_el(0x0002, 0x0010, b"UI", transfer_syntax.encode()),
        short_el(0x0008, 0x0060, b"CS", modality.encode()),
        short_el(0x0010, 0x0010, b"PN", b"ANONYMOUS"),
        short_el(0x0010, 0x0020, b"LO", patient_id.encode()),
        short_el(0x0028, 0x0010, b"US", struct.pack("<H", rows)),
        short_el(0x0028, 0x0011, b"US", struct.pack("<H", cols)),
        short_el(0x0028, 0x0100, b"US", struct.pack("<H", bits)),
        long_el(0x7FE0, 0x0010, b"OW",
                px.astype(f"<u{bits // 8}").tobytes()),
    ])
    return b"\x00" * 128 + b"DICM" + body


# --- TIFF (baseline: uncompressed + PackBits) -------------------------------
#
# The document/scan format (TIFF 6.0 spec, public): IFD tag walk in
# either byte order, strip assembly, 8-bit gray/RGB, compression 1
# (none) and 32773 (PackBits RLE — decoded for real). LZW/JPEG-in-TIFF
# stay quarantined by name.


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        b = data[i]
        i += 1
        if b < 128:
            out += data[i:i + b + 1]
            i += b + 1
        elif b > 128:
            if i >= n:
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - b)
            i += 1
        # 128 = no-op
    if len(out) < expected:
        raise ValueError("PackBits output short of expected size")
    return bytes(out[:expected])


def decode_tiff(content: bytes):
    """(width, height, pixels (h, w, 3) uint8) from a baseline TIFF —
    8-bit grayscale or RGB, strips, compression none/PackBits, II or
    MM byte order. Raises ValueError only (quarantine contract)."""
    import struct

    import numpy as np

    try:
        return _decode_tiff_checked(content, struct, np)
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"corrupt TIFF: {exc!r}") from exc


def _decode_tiff_checked(content: bytes, struct, np):
    if content[:4] == b"II*\x00":
        e = "<"
    elif content[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF file")
    (ifd_off,) = struct.unpack(e + "I", content[4:8])
    if ifd_off + 2 > len(content):
        raise ValueError("IFD offset out of range")
    (n_entries,) = struct.unpack(
        e + "H", content[ifd_off:ifd_off + 2]
    )
    _type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(content):
            raise ValueError("truncated IFD")
        tag, typ, cnt = struct.unpack(
            e + "HHI", content[off:off + 8]
        )
        size = _type_size.get(typ)
        if size is None:
            continue
        total = size * cnt
        if total <= 4:
            raw = content[off + 8:off + 8 + total]
        else:
            (voff,) = struct.unpack(e + "I", content[off + 8:off + 12])
            raw = content[voff:voff + total]
            if len(raw) < total:
                raise ValueError("tag value out of range")
        fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
        if fmt is None:
            continue  # RATIONAL/ASCII not needed
        tags[tag] = list(
            struct.unpack(e + fmt * cnt, raw[:size * cnt])
        )

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"missing TIFF tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    spp = one(277, 1)
    bits = tags.get(258, [8] * spp)
    comp = one(259, 1)
    if any(b != 8 for b in bits) or spp not in (1, 3):
        raise ValueError(
            f"only 8-bit gray/RGB supported (bits={bits}, spp={spp})"
        )
    if comp not in (1, 32773):
        raise ValueError(
            f"unsupported TIFF compression {comp} (none/PackBits only)"
        )
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing strip offsets/byte counts")
    rows_per_strip = one(278, h)
    raster = bytearray()
    rows_left = h
    for soff, scnt in zip(offsets, counts):
        strip = content[soff:soff + scnt]
        if len(strip) < scnt:
            raise ValueError("strip out of range")
        rows_here = min(rows_per_strip, rows_left)
        expected = rows_here * w * spp
        if comp == 32773:
            raster += _packbits_decode(strip, expected)
        else:
            if len(strip) < expected:
                raise ValueError("strip shorter than raster rows")
            raster += strip[:expected]
        rows_left -= rows_here
    if len(raster) < h * w * spp:
        raise ValueError("assembled raster too small")
    arr = np.frombuffer(bytes(raster[:h * w * spp]), np.uint8).reshape(
        h, w, spp
    )
    if spp == 1:
        arr = np.repeat(arr, 3, axis=2)
    return w, h, np.ascontiguousarray(arr)


def encode_tiff(pixels, packbits: bool = False) -> bytes:
    """Minimal little-endian baseline TIFF for (h, w[, 3]) uint8 —
    single strip, optional PackBits; write-side twin for tests."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, spp = px.shape
    raw = px.tobytes()
    if packbits:
        out = bytearray()
        # simple literal-run emitter (valid PackBits, not optimal)
        for i in range(0, len(raw), 128):
            chunk = raw[i:i + 128]
            out += bytes([len(chunk) - 1]) + chunk
        data = bytes(out)
    else:
        data = raw
    entries = [
        (256, 3, 1, w), (257, 3, 1, h),
        (259, 3, 1, 32773 if packbits else 1),
        (262, 3, 1, 2 if spp == 3 else 1),
        (277, 3, 1, spp),
        (278, 3, 1, h),
        (279, 4, 1, len(data)),
    ]
    bits_off_needed = spp == 3
    header_end = 8
    # layout: header | data | [bits array] | IFD
    data_off = header_end
    bits_off = data_off + len(data)
    ifd_off = bits_off + (6 if bits_off_needed else 0)
    if bits_off_needed:
        entries.append((258, 3, 3, bits_off))
    else:
        entries.append((258, 3, 1, 8))
    entries.append((273, 4, 1, data_off))
    entries.sort()
    out = bytearray()
    out += b"II*\x00" + struct.pack("<I", ifd_off)
    out += data
    if bits_off_needed:
        out += struct.pack("<HHH", 8, 8, 8)
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        out += struct.pack("<HHI", tag, typ, cnt)
        if typ == 3 and cnt == 1:
            out += struct.pack("<HH", val, 0)
        else:
            out += struct.pack("<I", val)
    out += struct.pack("<I", 0)  # next IFD
    return bytes(out)


# --- BMP (Windows bitmap, uncompressed BI_RGB) ------------------------------


def decode_bmp(content: bytes):
    """(width, height, (h, w, 3) uint8 RGB) from an uncompressed
    24/32-bit BI_RGB Windows bitmap (bottom-up or top-down rows,
    4-byte row padding). Raises ValueError only."""
    import struct

    import numpy as np

    try:
        if content[:2] != b"BM" or len(content) < 54:
            raise ValueError("not a BMP file")
        (data_off,) = struct.unpack("<I", content[10:14])
        (hdr_size,) = struct.unpack("<I", content[14:18])
        if hdr_size < 40:
            raise ValueError("pre-BITMAPINFOHEADER BMP unsupported")
        w, h = struct.unpack("<ii", content[18:26])
        planes, bpp = struct.unpack("<HH", content[26:30])
        (comp,) = struct.unpack("<I", content[30:34])
        if comp != 0 or bpp not in (24, 32):
            raise ValueError(
                f"only uncompressed 24/32-bit BMP (comp={comp}, "
                f"bpp={bpp})"
            )
        top_down = h < 0
        h = abs(h)
        if w <= 0 or h <= 0:
            raise ValueError("bad BMP dimensions")
        stride = ((w * (bpp // 8) + 3) // 4) * 4
        need = data_off + stride * h
        if len(content) < need:
            raise ValueError("truncated BMP pixel data")
        rows = []
        for y in range(h):
            off = data_off + y * stride
            row = np.frombuffer(
                content, np.uint8, count=w * (bpp // 8), offset=off
            ).reshape(w, bpp // 8)
            rows.append(row[:, [2, 1, 0]])  # BGR(A) -> RGB
        px = np.stack(rows if top_down else rows[::-1])
        return w, h, np.ascontiguousarray(px)
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"corrupt BMP: {exc!r}") from exc


def encode_bmp(pixels) -> bytes:
    """Minimal 24-bit bottom-up BI_RGB BMP — write-side twin."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    h, w = px.shape[:2]
    stride = ((w * 3 + 3) // 4) * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = px[y, :, [2, 1, 0]].T.tobytes()  # RGB -> BGR
        body += row + b"\x00" * (stride - len(row))
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + bytes(body)


# --- H.264 / AVC stream probe ------------------------------------------------
#
# The probe-only tier for the env-gated video codec (VERDICT r9 task
# 8): full sample decode needs a codec library this container lacks,
# but the STREAM METADATA a 100 TB media-ingest pipeline partitions
# and cost-models on — dimensions, profile/level, NAL composition —
# parses for real from the public spec (ITU-T H.264 §7.3.2.1 seq
# parameter set RBSP, §7.4.1 NAL units, Annex B byte-stream format).
# No codec library, no decode: Exp-Golomb over the SPS after
# emulation-prevention-byte removal.

_H264_PROFILES = {
    66: "baseline", 77: "main", 88: "extended", 100: "high",
    110: "high10", 122: "high422", 244: "high444",
}
# profiles whose SPS carries the chroma/bit-depth/scaling block
_H264_HIGH_SET = {
    100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135,
}


class _BitReader:
    """MSB-first bit reader with ue(v)/se(v) Exp-Golomb (spec §9.1)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        out = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return out

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("bad Exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def _rbsp_unescape(nal_payload: bytes) -> bytes:
    """Remove emulation-prevention bytes: 00 00 03 -> 00 00 (§7.4.1)."""
    out = bytearray()
    i, n = 0, len(nal_payload)
    while i < n:
        if (i + 2 < n and nal_payload[i] == 0
                and nal_payload[i + 1] == 0
                and nal_payload[i + 2] == 3):
            out += b"\x00\x00"
            i += 3
        else:
            out.append(nal_payload[i])
            i += 1
    return bytes(out)


def _parse_sps(rbsp: bytes) -> dict:
    """§7.3.2.1.1 — enough of the SPS to recover profile, level and
    the cropped frame dimensions."""
    r = _BitReader(rbsp)
    profile_idc = r.u(8)
    r.u(8)  # constraint_set flags + reserved
    level_idc = r.u(8)
    r.ue()  # seq_parameter_set_id
    chroma_format_idc = 1
    if profile_idc in _H264_HIGH_SET:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)  # separate_colour_plane_flag
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            n_lists = 8 if chroma_format_idc != 3 else 12
            for li in range(n_lists):
                if r.u(1):  # seq_scaling_list_present_flag[li]
                    size = 16 if li < 6 else 64
                    last, nxt = 8, 8
                    for _ in range(size):  # §7.3.2.1.1.1
                        if nxt != 0:
                            nxt = (last + r.se() + 256) % 256
                        last = nxt if nxt else last
    r.ue()  # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):  # num_ref_frames_in_pic_order_cnt_cycle
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    w_mbs = r.ue() + 1
    h_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop = (0, 0, 0, 0)
    if r.u(1):  # frame_cropping_flag
        crop = (r.ue(), r.ue(), r.ue(), r.ue())
    # §7.4.2.1.1: crop units depend on chroma format / interlacing
    sub_w = 1 if chroma_format_idc == 3 else 2
    sub_h = (2 if chroma_format_idc == 1 else 1) * (
        2 - frame_mbs_only
    )
    if chroma_format_idc == 0:
        sub_w, sub_h = 1, 2 - frame_mbs_only
    width = w_mbs * 16 - sub_w * (crop[0] + crop[1])
    height = (2 - frame_mbs_only) * h_units * 16 - sub_h * (
        crop[2] + crop[3]
    )
    return {
        "profile": _H264_PROFILES.get(profile_idc, str(profile_idc)),
        "profile_idc": profile_idc,
        "level": round(level_idc / 10.0, 1),
        "width": width,
        "height": height,
    }


def probe_h264(content: bytes) -> dict:
    """Annex-B H.264 stream probe: NAL walk + SPS parse. Returns
    {'codec','profile','level','width','height','n_nal','n_idr',
    'n_slices'}. Header-only — no sample decode (env-gated). Raises
    ValueError only (quarantine contract)."""
    try:
        return _probe_h264_checked(content)
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"corrupt H.264 stream: {exc!r}") from exc


def _probe_h264_checked(content: bytes) -> dict:
    # Annex B: NAL units delimited by 00 00 01 / 00 00 00 01
    starts = []
    i, n = 0, len(content)
    while i + 3 <= n:
        if content[i] == 0 and content[i + 1] == 0:
            if content[i + 2] == 1:
                starts.append(i + 3)
                i += 3
                continue
            if i + 4 <= n and content[i + 2] == 0 and content[i + 3] == 1:
                starts.append(i + 4)
                i += 4
                continue
        i += 1
    if not starts:
        raise ValueError("no Annex-B start codes")
    sps, n_idr, n_slices = None, 0, 0
    for j, s in enumerate(starts):
        end = (starts[j + 1] - 3) if j + 1 < len(starts) else n
        nal = content[s:end]
        while nal and nal[-1] == 0:  # trailing start-code zeros
            nal = nal[:-1]
        if not nal or nal[0] & 0x80:
            raise ValueError(f"bad NAL header at byte {s}")
        ntype = nal[0] & 0x1F
        if ntype == 7 and sps is None:
            sps = _parse_sps(_rbsp_unescape(nal[1:]))
        elif ntype == 5:
            n_idr += 1
            n_slices += 1
        elif ntype == 1:
            n_slices += 1
    if sps is None:
        raise ValueError("no SPS NAL in stream")
    return {
        "codec": "h264",
        **{k: sps[k] for k in
           ("profile", "level", "width", "height")},
        "n_nal": len(starts),
        "n_idr": n_idr,
        "n_slices": n_slices,
    }


class _BitWriter:
    """Write-side twin of _BitReader (tests + deterministic fixture
    synthesis): u(n) and Exp-Golomb ue(v)."""

    def __init__(self):
        self.bits: list[int] = []

    def u(self, n: int, v: int) -> None:
        for k in range(n - 1, -1, -1):
            self.bits.append((v >> k) & 1)

    def ue(self, v: int) -> None:
        k = v + 1
        nbits = k.bit_length()
        self.u(nbits - 1, 0)
        self.u(nbits, k)

    def bytes(self) -> bytes:
        bits = self.bits + [1]  # rbsp_stop_one_bit
        while len(bits) % 8:
            bits.append(0)
        return bytes(
            int("".join(map(str, bits[i:i + 8])), 2)
            for i in range(0, len(bits), 8)
        )


def encode_h264_sps(
    width: int, height: int, profile_idc: int = 66,
    level_idc: int = 30, crop_right: int = 0, crop_bottom: int = 0,
) -> bytes:
    """Minimal spec-conformant SPS NAL (frame_mbs_only, poc type 0,
    4:2:0) — the write-side twin for tests and fixtures. ``width`` /
    ``height`` are the CODED dims before cropping; pass crops in
    chroma units (§7.4.2.1.1)."""
    w = _BitWriter()
    w.u(8, profile_idc)
    w.u(8, 0)          # constraint flags
    w.u(8, level_idc)
    w.ue(0)            # sps id
    if profile_idc in _H264_HIGH_SET:
        w.ue(1)        # chroma_format_idc 4:2:0
        w.ue(0)        # bit_depth_luma_minus8
        w.ue(0)        # bit_depth_chroma_minus8
        w.u(1, 0)      # qpprime
        w.u(1, 0)      # no scaling matrix
    w.ue(4)            # log2_max_frame_num_minus4
    w.ue(0)            # poc type 0
    w.ue(4)            # log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)            # max_num_ref_frames
    w.u(1, 0)          # gaps allowed
    if width % 16 or height % 16:
        raise ValueError("coded dims must be multiples of 16")
    w.ue(width // 16 - 1)
    w.ue(height // 16 - 1)
    w.u(1, 1)          # frame_mbs_only
    w.u(1, 1)          # direct_8x8_inference
    if crop_right or crop_bottom:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_right)
        w.ue(0)
        w.ue(crop_bottom)
    else:
        w.u(1, 0)
    w.u(1, 0)          # vui_parameters_present_flag
    rbsp = w.bytes()
    # re-insert emulation prevention (§7.4.1, write side)
    out, zeros = bytearray([0x67]), 0  # nal_ref_idc=3|type=7
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return b"\x00\x00\x00\x01" + bytes(out)


def encode_h264_stream(
    width: int, height: int, n_idr: int = 1, n_slices: int = 0,
    profile_idc: int = 66, level_idc: int = 30,
) -> bytes:
    """Deterministic Annex-B fixture: SPS + PPS stub + IDR / non-IDR
    slice NALs with opaque payloads (probe-only tier never parses
    slice data)."""
    sps = encode_h264_sps(
        width, height, profile_idc=profile_idc, level_idc=level_idc
    )
    pps = b"\x00\x00\x00\x01\x68\xce\x38\x80"
    out = bytearray(sps + pps)
    for i in range(n_idr):
        out += b"\x00\x00\x01\x65" + bytes(
            [0x88, (i * 37) % 256, 0x40]
        )
    for i in range(n_slices):
        out += b"\x00\x00\x01\x41" + bytes(
            [0x9a, (i * 53) % 256, 0x20]
        )
    return bytes(out)


def encode_mpeg_audio_stub(n_frames: int, id3: bool = False,
                           vbr: bool = False) -> bytes:
    """Deterministic MPEG1 Layer-III fixture: valid frame HEADERS
    (128 kbps, 44.1 kHz, stereo, no CRC) over opaque payloads — the
    probe-only tier never decodes samples. Optional ID3v2 tag
    prefix exercises the probe's tag skip. ``vbr=True`` alternates
    128/192 kbps frames and prepends a Xing header frame carrying the
    exact frame and byte counts (the O(1) VBR duration source)."""
    import struct

    def frame_of(bidx: int) -> bytes:
        # bitrate index nibble: 9 = 128 kbps, 11 = 192 kbps (MPEG1 L3)
        kbps = {9: 128, 11: 192}[bidx]
        frame_len = 144 * kbps * 1000 // 44100
        return bytes([0xFF, 0xFB, (bidx << 4) | 0x00, 0x00]) + bytes(
            (i * 31) % 256 for i in range(frame_len - 4)
        )

    tag = b""
    if id3:
        tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
    if not vbr:
        return tag + frame_of(9) * n_frames
    audio = b"".join(
        frame_of(9 if i % 2 == 0 else 11) for i in range(n_frames)
    )
    # Xing frame: a normal 128 kbps frame whose payload (after the
    # MPEG1-stereo 32-byte side info) carries Xing + flags 0x3 +
    # frame count + byte count (audio frames only, per the spec)
    head = bytearray(frame_of(9))
    head[4:4 + 32] = bytes(32)  # zeroed side info
    payload = (
        b"Xing" + struct.pack(">I", 0x3)
        + struct.pack(">I", n_frames)
        + struct.pack(">I", len(audio))
    )
    head[36:36 + len(payload)] = payload
    return tag + bytes(head) + audio


def probe_mp4(content: bytes) -> dict:
    """ISO-BMFF / MP4 container probe (ISO/IEC 14496-12 box walk):
    ftyp brand, mvhd duration, and per the first video (else audio)
    track its stsd sample-entry fourcc, tkhd dimensions, avcC
    profile/level and stts sample count. Header-only — the mdat
    payload is never touched (sample decode stays env-gated). The
    container shape real multimodal corpora arrive in: raw Annex-B /
    MP3 streams (the r10 probe tier) are the elementary streams INSIDE
    these boxes. Raises ValueError only (quarantine contract)."""
    try:
        return _probe_mp4_checked(content)
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"corrupt MP4 container: {exc!r}") from exc


def _walk_boxes(buf: bytes, pos: int, end: int):
    """Yield (type, body_start, body_end) for the sibling boxes in
    [pos, end) — 64-bit largesize and to-end (size 0) handled."""
    import struct

    while pos + 8 <= end:
        size = struct.unpack(">I", buf[pos:pos + 4])[0]
        btype = buf[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            size = struct.unpack(">Q", buf[pos + 8:pos + 16])[0]
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"bad box size {size} at {pos}")
        yield btype, body, pos + size
        pos += size


# container boxes the track walk descends into
_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _probe_mp4_checked(content: bytes) -> dict:
    import struct

    if len(content) < 12 or content[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file (no ftyp)")
    brand = content[8:12].decode("ascii", "replace")
    mvhd = None
    tracks: list[dict] = []
    n_fragments = 0
    frag_samples = 0

    def full_box(body: bytes) -> tuple[int, bytes]:
        return body[0], body[4:]

    def scan(pos: int, end: int, track: dict | None) -> None:
        nonlocal mvhd, n_fragments, frag_samples
        for btype, b0, b1 in _walk_boxes(content, pos, end):
            body = content[b0:b1]
            if btype == b"moof":
                # fragmented MP4 (fMP4 / CMAF): count fragments and
                # sum their trun sample counts — live/streaming
                # corpora carry samples here, with mvhd duration 0
                n_fragments += 1
                for ft, f0, f1 in _walk_boxes(content, b0, b1):
                    if ft != b"traf":
                        continue
                    for st, s0, _s1 in _walk_boxes(content, f0, f1):
                        if st == b"trun":
                            (cnt,) = struct.unpack(
                                ">I", content[s0 + 4:s0 + 8]
                            )
                            frag_samples += cnt
                continue
            if btype == b"trak":
                t: dict = {}
                scan(b0, b1, t)
                tracks.append(t)
            elif btype in _MP4_CONTAINERS:
                scan(b0, b1, track)
            elif btype == b"mvhd":
                v, rest = full_box(body)
                if v == 1:
                    ts, dur = struct.unpack(">IQ", rest[16:28])
                else:
                    ts, dur = struct.unpack(">II", rest[8:16])
                mvhd = {"timescale": ts, "duration": dur}
            elif btype == b"tkhd" and track is not None:
                v, rest = full_box(body)
                # width/height: 16.16 fixed, last 8 bytes of the box
                w, h = struct.unpack(">II", rest[-8:])
                track["width"], track["height"] = w >> 16, h >> 16
            elif btype == b"hdlr" and track is not None:
                track["handler"] = body[8:12].decode("ascii", "replace")
            elif btype == b"stsd" and track is not None:
                _v, rest = full_box(body)
                (n_entries,) = struct.unpack(">I", rest[:4])
                if n_entries >= 1:
                    (esize,) = struct.unpack(">I", rest[4:8])
                    track["fourcc"] = rest[8:12].decode(
                        "ascii", "replace"
                    )
                    entry = rest[12:4 + esize]
                    # avc1 sample entry: 78 header bytes then sub-boxes
                    # (avcC first in practice); profile/level live at
                    # avcC bytes 1 and 3
                    if track["fourcc"] == "avc1" and len(entry) > 78:
                        for st, s0, _s1 in _walk_boxes(
                            rest, 12 + 78, 4 + esize
                        ):
                            if st == b"avcC":
                                track["profile"] = _H264_PROFILES.get(
                                    rest[s0 + 1], str(rest[s0 + 1])
                                )
                                track["level"] = rest[s0 + 3] / 10.0
                                break
            elif btype == b"stts" and track is not None:
                _v, rest = full_box(body)
                (n_entries,) = struct.unpack(">I", rest[:4])
                track["n_samples"] = sum(
                    struct.unpack(">I", rest[4 + 8 * i:8 + 8 * i])[0]
                    for i in range(n_entries)
                )

    scan(0, len(content), None)
    if mvhd is None:
        raise ValueError("no moov/mvhd box")
    best = next(
        (t for t in tracks if t.get("handler") == "vide"),
        next((t for t in tracks if t.get("handler") == "soun"), None),
    )
    if best is None:
        raise ValueError("no video or audio track")
    dur = (
        round(mvhd["duration"] / mvhd["timescale"], 3)
        if mvhd["timescale"] else None
    )
    n_samples = best.get("n_samples")
    if not n_samples and frag_samples:
        n_samples = frag_samples  # fMP4: samples live in fragments
    return {
        "brand": brand,
        "fourcc": best.get("fourcc"),
        "handler": best.get("handler"),
        "profile": best.get("profile"),
        "level": best.get("level"),
        "width": best.get("width") or None,
        "height": best.get("height") or None,
        "n_samples": n_samples,
        "duration_s": dur,
        "n_tracks": len(tracks),
        "n_fragments": n_fragments,
    }


def encode_mp4_stub(
    duration_ms: int, n_samples: int,
    width: int = 0, height: int = 0,
    profile_idc: int = 66, audio_only: bool = False,
    n_fragments: int = 0, samples_per_fragment: int = 0,
) -> bytes:
    """Deterministic minimal ISO-BMFF fixture: ftyp + moov[mvhd +
    trak[tkhd + mdia[mdhd + hdlr + minf[stbl[stsd(avc1+avcC | mp4a) +
    stts]]]]] + empty mdat — spec-shaped boxes only, no samples.
    ``n_fragments > 0`` appends fMP4 moof[mfhd + traf[tfhd + trun]]
    fragments (pass ``n_samples=0`` for the streaming-corpus shape
    where all samples live in fragments)."""
    import struct

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    def full(btype: bytes, body: bytes, version: int = 0) -> bytes:
        return box(btype, bytes([version, 0, 0, 0]) + body)

    if audio_only:
        width = height = 0  # sound tracks carry zero tkhd dims (spec)
    ts = 1000
    mvhd = full(b"mvhd", struct.pack(
        ">IIII", 0, 0, ts, duration_ms
    ) + struct.pack(">I", 0x00010000) + b"\x01\x00" + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                      0x40000000) + b"\x00" * 24
        + struct.pack(">I", 2))
    tkhd = full(b"tkhd", struct.pack(
        ">IIIII", 0, 0, 1, 0, duration_ms
    ) + b"\x00" * 8 + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                      0x40000000)
        + struct.pack(">II", width << 16, height << 16), version=0)
    mdhd = full(b"mdhd", struct.pack(
        ">IIII", 0, 0, ts, duration_ms) + struct.pack(">HH", 0x55C4, 0))
    handler = b"soun" if audio_only else b"vide"
    hdlr = full(b"hdlr", struct.pack(">I", 0) + handler
                + b"\x00" * 12 + b"probe\x00")
    if audio_only:
        entry = box(b"mp4a", b"\x00" * 6 + struct.pack(">H", 1)
                    + struct.pack(">HHI", 0, 0, 0)
                    + struct.pack(">HHHH", 2, 16, 0, 0)
                    + struct.pack(">I", 44100 << 16))
    else:
        avcc = box(b"avcC", bytes([1, profile_idc, 0x40, 30, 0xFF,
                                   0xE0, 0x00]))
        entry = box(b"avc1", b"\x00" * 6 + struct.pack(">H", 1)
                    + struct.pack(">HH", 0, 0) + b"\x00" * 12
                    + struct.pack(">HH", width, height)
                    + struct.pack(">II", 0x480000, 0x480000)
                    + struct.pack(">I", 0) + struct.pack(">H", 1)
                    + b"\x00" * 32 + struct.pack(">Hh", 24, -1)
                    + avcc)
    stsd = full(b"stsd", struct.pack(">I", 1) + entry)
    stts = full(b"stts", struct.pack(">I", 0)
                if n_samples == 0
                else struct.pack(">III", 1, n_samples,
                                 max(1, duration_ms // max(n_samples, 1))))
    stbl = box(b"stbl", stsd + stts)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomavc1")
    out = ftyp + moov + box(b"mdat", b"")
    for seq in range(1, n_fragments + 1):
        trun = full(b"trun", struct.pack(">I", samples_per_fragment))
        traf = box(b"traf", full(b"tfhd", struct.pack(">I", 1)) + trun)
        out += box(b"moof", full(b"mfhd", struct.pack(">I", seq)) + traf)
        out += box(b"mdat", b"")
    return out


MEDIA_PROBE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("codec", T.StringType()),
    T.StructField("profile", T.StringType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("n_units", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("err", T.StringType()),
])


def media_stream_probe(assets: DataFrame) -> DataFrame:
    """assets(doc_id, content: binary) → one structured metadata row
    per asset: magic-byte dispatch to the MPEG-audio frame walk or
    the H.264 NAL/SPS parse, per-row error capture (same quarantine
    contract as image/audio/video features). This is the probe-only
    tier of the env-gated codecs: the partition/cost-model pass a
    100 TB media ingest runs BEFORE paying for sample decode."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fda_clinical_etl_pipeline_spark.operators.multimodal import (
            _wav_probe,
            probe_avi,
            probe_h264,
            probe_mp4,
            probe_mpeg_audio,
        )

        def dispatch(raw: bytes):
            if raw[4:8] == b"ftyp":
                m = probe_mp4(raw)
                return (
                    f"mp4-{m['fourcc']}", m["profile"],
                    m["width"], m["height"], m["n_samples"],
                    m["duration_s"],
                )
            if len(raw) >= 2 and raw[0] == 0xFF and \
                    (raw[1] & 0xF6) == 0xF0:
                # ADTS before the MPEG-audio walk: both sync on 0xFF,
                # but ADTS carries layer bits 00 (reserved for MPEG
                # audio), so the masks are disjoint
                from fda_clinical_etl_pipeline_spark.operators \
                    .multimodal import probe_adts

                m = probe_adts(raw)
                return (
                    "aac-adts",
                    f"{m['profile']}-{m['channels']}ch",
                    None, None, m["n_frames"], m["duration_s"],
                )
            if raw[:3] == b"ID3" or (
                len(raw) >= 2 and raw[0] == 0xFF
                and (raw[1] & 0xE0) == 0xE0
            ):
                m = probe_mpeg_audio(raw)
                return (
                    "mpeg-audio",
                    f"{m['version']}-L{m['layer']}",
                    None, None, m["n_frames"], m["duration_s"],
                )
            if raw[:3] == b"\x00\x00\x01" or raw[:4] == b"\x00\x00\x00\x01":
                h = probe_h264(raw)
                return (
                    h["codec"], h["profile"], h["width"],
                    h["height"], h["n_nal"], None,
                )
            if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
                a = probe_avi(raw)
                dur = (
                    round(a["total_frames"] / a["fps"], 3)
                    if a["fps"] else None
                )
                return ("avi", "mjpeg", a["width"], a["height"],
                        a["total_frames"], dur)
            if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
                rate, ch, samples = (  # header + shape only
                    _wav_probe(raw)
                )
                return (
                    "wav", f"pcm-{ch}ch", None, None, samples,
                    round(samples / rate, 3) if rate else None,
                )
            if raw[:4] == b"fLaC":
                from fda_clinical_etl_pipeline_spark.operators.flac \
                    import probe_flac

                m = probe_flac(raw)
                return (
                    "flac",
                    f"pcm{m['bits']}-{m['channels']}ch",
                    None, None, m["total_samples"], m["duration_s"],
                )
            if raw[:4] == b"OggS":
                from fda_clinical_etl_pipeline_spark.operators \
                    .multimodal import probe_ogg

                m = probe_ogg(raw)
                return (
                    f"ogg-{m['codec']}", f"{m['channels']}ch",
                    None, None, m["n_pages"], m["duration_s"],
                )
            if raw[:4] == b"\x1aE\xdf\xa3":
                from fda_clinical_etl_pipeline_spark.operators \
                    .multimodal import probe_matroska

                m = probe_matroska(raw)
                return (
                    m["doctype"],
                    m["video_codec"] or m["audio_codec"],
                    m["width"], m["height"], m["n_tracks"],
                    m["duration_s"],
                )
            if (len(raw) >= 376 and len(raw) % 188 == 0
                    and raw[0] == 0x47 and raw[188] == 0x47):
                from fda_clinical_etl_pipeline_spark.operators \
                    .multimodal import probe_mpegts

                m = probe_mpegts(raw)
                prof = "+".join(
                    c for c in (m["video_codec"], m["audio_codec"]) if c
                )
                return ("mpegts", prof or None, None, None,
                        m["n_packets"], m["duration_s"])
            raise ValueError("unrecognized media container")

        for pdf in batches:
            out = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    codec, prof, w, h, n, dur = dispatch(
                        bytes(content or b"")
                    )
                    out.append((doc_id, codec, prof, w, h, n, dur,
                                None))
                except Exception as exc:
                    out.append((doc_id, "error", None, None, None,
                                None, None, str(exc)[:200]))
            yield pd.DataFrame(
                out, columns=[f.name for f in MEDIA_PROBE_SCHEMA.fields]
            )

    return assets.mapInPandas(run, MEDIA_PROBE_SCHEMA)


@register(
    "media_probe_features",
    """
    SELECT doc_id,
           CASE WHEN doc_id > 360 THEN 'aac-adts'
                WHEN doc_id > 300 THEN 'mpegts'
                WHEN doc_id % 4 = 0 THEN 'mpeg-audio'
                WHEN doc_id % 4 = 1 THEN 'h264'
                WHEN doc_id % 4 = 2 THEN CASE WHEN doc_id % 8 = 2
                                              THEN 'mp4-avc1'
                                              ELSE 'mp4-mp4a' END
                ELSE 'error' END AS codec,
           CASE WHEN doc_id > 360 THEN
                     CASE WHEN doc_id % 2 = 0 THEN 'lc' ELSE 'main' END
                     || '-' || CAST(1 + doc_id % 2 AS VARCHAR) || 'ch'
                WHEN doc_id > 300 THEN
                     CASE WHEN doc_id % 3 != 0 THEN 'h264+' ELSE '' END
                     || CASE WHEN doc_id % 2 = 0 THEN 'aac'
                             ELSE 'mp3' END
                WHEN doc_id % 4 = 0 THEN 'MPEG1-L3'
                WHEN doc_id % 4 = 1 THEN CASE WHEN doc_id % 2 = 0
                                 THEN 'baseline' ELSE 'high' END
                WHEN doc_id % 4 = 2 THEN CASE WHEN doc_id % 8 = 2 THEN
                     CASE WHEN doc_id % 3 = 0
                          THEN 'baseline' ELSE 'high' END END
           END AS profile,
           CASE WHEN doc_id > 300 THEN NULL
                WHEN doc_id % 4 = 1
                THEN CAST(16 * (10 + doc_id % 20) AS BIGINT)
                WHEN doc_id % 8 = 2
                THEN CAST(16 * (12 + doc_id % 15) AS BIGINT)
           END AS width,
           CASE WHEN doc_id > 300 THEN NULL  -- TS + ADTS: no dims
                WHEN doc_id % 4 = 1
                THEN CAST(16 * (8 + doc_id % 10) AS BIGINT)
                WHEN doc_id % 8 = 2
                THEN CAST(16 * (9 + doc_id % 8) AS BIGINT)
           END AS height,
           CASE WHEN doc_id > 360 THEN CAST(3 + doc_id % 6 AS BIGINT)
                WHEN doc_id > 300
                THEN CAST(2 + CASE WHEN doc_id % 3 != 0
                                   THEN 5 + doc_id % 7 ELSE 0 END
                            + 4 + doc_id % 5 AS BIGINT)
                WHEN doc_id % 4 = 0 THEN CAST(3 + doc_id % 5 AS BIGINT)
                WHEN doc_id % 4 = 1
                THEN CAST(2 + (1 + doc_id % 3) + (doc_id % 4)
                                 AS BIGINT)
                WHEN doc_id % 4 = 2 THEN CAST(10 + doc_id % 20
                                              AS BIGINT)
           END AS n_units,
           CASE WHEN doc_id > 360
                THEN ROUND((3 + doc_id % 6) * (1 + doc_id % 2) * 1024
                           / CASE doc_id % 4 WHEN 0 THEN 48000
                                             WHEN 1 THEN 44100
                                             WHEN 2 THEN 32000
                                             ELSE 24000 END, 3)
                WHEN doc_id > 300
                THEN ROUND(200 * (1 + doc_id % 9) / 1000.0, 3)
                WHEN doc_id % 4 = 0
                THEN ROUND((3 + doc_id % 5) * 1152.0 / 44100, 3)
                WHEN doc_id % 4 = 2
                THEN ROUND(0.5 * (1 + doc_id % 7), 3)
           END AS duration_s,
           CASE WHEN doc_id <= 300 AND doc_id % 4 = 3
                THEN 'unrecognized media container'
           END AS err
    FROM documents
    WHERE doc_id <= 400
    ORDER BY doc_id
    """,
    doc="Probe-only codec tier end-to-end: per doc_id, a synthesized "
        "MPEG1 Layer-III stream (valid frame headers, ID3 tag on "
        "even ids), an H.264 Annex-B stream (real Exp-Golomb SPS "
        "with doc_id-derived dims/profile, IDR + non-IDR NALs), an "
        "ISO-BMFF MP4 container (spec box tree: ftyp/moov/trak/stsd "
        "with avc1+avcC video or mp4a audio-only, mvhd duration, "
        "stts sample counts — the wrapper real corpora arrive in), "
        "or garbage bytes. media_stream_probe must recover the "
        "exact metadata (duration from the frame walk / mvhd, "
        "dimensions from the SPS / tkhd, profile from avcC) and "
        "quarantine the garbage — the DuckDB oracle re-derives "
        "every value from doc_id arithmetic. Ids 301-360 add MPEG "
        "transport streams (spec PSI: CRC-32 PAT/PMT, PES starts, "
        "PCR span = duration) closing the container-probe tier: "
        "MP4 + Ogg + EBML + TS cover the carriers real media "
        "corpora arrive in.",
)
def media_probe_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    (documents,) = tables(spark, sf_dir, "documents")
    ids = documents.select("doc_id").filter(F.col("doc_id") <= 400)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fda_clinical_etl_pipeline_spark.operators.multimodal import (
            encode_adts_stub,
            encode_h264_stream,
            encode_mp4_stub,
            encode_mpeg_audio_stub,
            encode_mpegts_stub,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d > 360:
                    content = encode_adts_stub(
                        n_frames=3 + d % 6,
                        profile="lc" if d % 2 == 0 else "main",
                        sample_rate=(48000, 44100, 32000,
                                     24000)[d % 4],
                        channels=1 + d % 2,
                        crc=(d % 3 == 0),
                        blocks_per_frame=1 + d % 2,
                    )
                elif d > 300:
                    content = encode_mpegts_stub(
                        duration_ms=200 * (1 + d % 9),
                        n_video=(5 + d % 7) if d % 3 else 0,
                        n_audio=4 + d % 5,
                        audio_codec="aac" if d % 2 == 0 else "mp3",
                    )
                elif d % 4 == 0:
                    content = encode_mpeg_audio_stub(
                        3 + d % 5, id3=(d % 2 == 0)
                    )
                elif d % 4 == 1:
                    content = encode_h264_stream(
                        16 * (10 + d % 20), 16 * (8 + d % 10),
                        n_idr=1 + d % 3, n_slices=d % 4,
                        profile_idc=66 if d % 2 == 0 else 100,
                        level_idc=30 if d % 2 == 0 else 41,
                    )
                elif d % 4 == 2:
                    content = encode_mp4_stub(
                        duration_ms=500 * (1 + d % 7),
                        n_samples=10 + d % 20,
                        width=16 * (12 + d % 15),
                        height=16 * (9 + d % 8),
                        profile_idc=66 if d % 3 == 0 else 100,
                        audio_only=(d % 8 != 2),
                    )
                else:
                    content = bytes([0x42] * 16 + [d % 256] * 16)
                rows.append((d, content))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    assets = ids.mapInPandas(synth, "doc_id long, content binary")
    return media_stream_probe(assets).orderBy("doc_id")


def _wav_probe(content: bytes) -> tuple[int, int, int]:
    """Header-only WAV probe: (sample_rate, channels, n_samples) from
    the fmt/data chunk walk — no sample decode (PCM16 assumed for the
    sample count; compressed tags report container frame counts).
    Raises ValueError only (quarantine contract)."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, channels, bits, data_len = 12, None, None, 16, None
    try:
        while pos + 8 <= len(content):
            cid = content[pos:pos + 4]
            size = struct.unpack("<I", content[pos + 4:pos + 8])[0]
            body = content[pos + 8:pos + 8 + size]
            if cid == b"fmt ":
                _fmt, channels, rate = struct.unpack("<HHI", body[:8])
                if len(body) >= 16:
                    bits = struct.unpack("<H", body[14:16])[0]
            elif cid == b"data":
                data_len = size
            pos += 8 + size + (size & 1)
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"corrupt WAV: {exc!r}") from exc
    if rate is None or data_len is None or not channels:
        raise ValueError("missing fmt/data chunk")
    bytes_per = max(1, (bits or 16) // 8) * channels
    return int(rate), int(channels), int(data_len // bytes_per)


# --- FLAC lossless round-trip gate ------------------------------------------

FLAC_RT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("sum_samples", T.LongType()),
    T.StructField("sample_rate", T.LongType()),
])


@register(
    "flac_roundtrip_features",
    """
    SELECT doc_id,
           CAST(200 + doc_id % 50 AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(
                 range(0, 200 + doc_id % 50),
                 i -> (doc_id * 31 + i * 17) % 4096 - 2048))
                AS BIGINT) AS sum_samples,
           CAST(8000 AS BIGINT) AS sample_rate
    FROM documents
    """,
    doc="FLAC (RFC 9639) lossless audio round-trip, end-to-end inside "
        "Arrow-batched mapInPandas: per document a deterministic PCM "
        "signal is synthesized from doc_id, encoded to multi-frame FLAC "
        "(fixed-predictor subframes, rice residuals, CRC-8/CRC-16, "
        "STREAMINFO MD5) and decoded back by the independent spec "
        "decoder. The oracle re-derives sample count and exact sample "
        "sum from the same doc_id arithmetic — any encode/decode "
        "corruption (or a silent CRC/MD5 bypass) changes the sum or "
        "errors the row and fails the gate. Per-asset CPU only, no "
        "shuffle: the same embarrassing parallelism a 100 TB media "
        "ingest has.",
)
def flac_roundtrip_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    # spread the CPU-bound codec across workers: the input is 8 bytes
    # per row (the PCM is synthesized inside the worker), so the
    # repartition shuffle is ~free while a single-row-group input
    # would otherwise run the whole encode+decode in ONE Python worker
    parallelism = spark.sparkContext.defaultParallelism
    docs = documents.select("doc_id").repartition(parallelism, "doc_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        from fda_clinical_etl_pipeline_spark.operators.flac import (
            decode_flac,
            encode_flac,
        )

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                i = np.arange(200 + d % 50, dtype=np.int64)
                pcm = ((d * 31 + i * 17) % 4096 - 2048).astype(np.int16)
                blob = encode_flac(pcm, sample_rate=8000, block_size=128)
                rate, _ch, dec = decode_flac(blob)
                out.append((
                    d,
                    int(dec.shape[0]),
                    int(dec.astype(np.int64).sum()),
                    int(rate),
                ))
            yield pd.DataFrame(
                out, columns=[f.name for f in FLAC_RT_SCHEMA.fields]
            )

    return docs.mapInPandas(run, FLAC_RT_SCHEMA)


# --- Ogg container probe (Opus / Vorbis) ------------------------------------
#
# The remaining major audio container after RIFF/WAVE, raw MPEG audio,
# ISO-BMFF/MP4 and native FLAC: speech/podcast corpora arrive as
# Ogg-encapsulated Opus or Vorbis. Pure-spec page walk (RFC 3533 framing,
# RFC 7845 OpusHead, Vorbis I identification header) with the container's
# CRC-32 verified per page — probe tier only; Opus/Vorbis sample decode
# needs the codec libraries this sandbox lacks (same env-gate as MP3).

def _ogg_crc_table():
    # CRC-32, polynomial 0x04C11DB7, NO reflection, init 0, no final
    # xor — Ogg's own variant (RFC 3533 appendix A)
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if r & 0x80000000 \
                else (r << 1) & 0xFFFFFFFF
        table.append(r)
    return table


_OGG_CRC = None


def _ogg_crc(data: bytes) -> int:
    global _OGG_CRC
    if _OGG_CRC is None:
        _OGG_CRC = _ogg_crc_table()
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((crc >> 24) ^ b)
                                                   & 0xFF]
    return crc


def _ogg_page(header_type: int, granule: int, serial: int, seq: int,
              packets: list[bytes]) -> bytes:
    import struct

    segs = bytearray()
    body = bytearray()
    for i, p in enumerate(packets):
        body += p
        n = len(p)
        while n >= 255:
            segs.append(255)
            n -= 255
        segs.append(n)  # final lacing value < 255 terminates the packet
    head = bytearray(struct.pack(
        "<4sBBqIII", b"OggS", 0, header_type, granule, serial, seq, 0
    ))
    head.append(len(segs))
    head += segs
    page = bytes(head) + bytes(body)
    crc = _ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def encode_ogg_stream(
    codec: str = "opus", n_audio_pages: int = 3,
    samples_per_page: int = 960, sample_rate: int = 48000,
    channels: int = 1, preskip: int = 312,
) -> bytes:
    """Spec-shaped Ogg fixture: BOS page with the codec id header
    (RFC 7845 OpusHead or Vorbis I identification), a comment-header
    page, then ``n_audio_pages`` data pages with advancing granule
    positions (opaque payloads — the probe never decodes them), EOS
    flagged on the last."""
    import struct

    serial = 0x1234
    if codec == "opus":
        idpkt = (b"OpusHead" + bytes([1, channels])
                 + struct.pack("<H", preskip)
                 + struct.pack("<I", sample_rate) + b"\x00\x00\x00")
        cmt = b"OpusTags" + struct.pack("<I", 4) + b"test" + b"\x00" * 4
    elif codec == "vorbis":
        idpkt = (b"\x01vorbis" + struct.pack("<I", 0)
                 + bytes([channels]) + struct.pack("<I", sample_rate)
                 + struct.pack("<iii", 0, 128000, 0) + b"\xb8\x01")
        cmt = b"\x03vorbis" + b"\x00" * 8
    else:
        raise ValueError(f"unknown codec {codec!r}")
    out = bytearray()
    out += _ogg_page(0x02, 0, serial, 0, [idpkt])        # BOS
    out += _ogg_page(0x00, 0, serial, 1, [cmt])
    granule = 0
    for i in range(n_audio_pages):
        granule += samples_per_page
        flag = 0x04 if i == n_audio_pages - 1 else 0x00  # EOS on last
        out += _ogg_page(flag, granule, serial, 2 + i,
                         [b"\xaa" * 20])
    return bytes(out)


def probe_ogg(content: bytes) -> dict:
    """Ogg page walk → codec id, channels, sample rate, page count and
    duration (from the final granule position, in the codec's granule
    units: 48 kHz samples minus pre-skip for Opus per RFC 7845 §4,
    native samples for Vorbis). Every page's CRC-32 is verified —
    a corrupt page raises rather than yielding a silently-wrong
    duration."""
    import struct

    if content[:4] != b"OggS":
        raise ValueError("ogg: bad capture pattern")
    pos = 0
    n_pages = 0
    last_granule = 0
    first_packet = None
    while pos < len(content):
        if content[pos:pos + 4] != b"OggS":
            raise ValueError("ogg: lost page sync")
        if pos + 27 > len(content):
            raise ValueError("ogg: truncated page header")
        (_, version, _htype, granule, _serial, _seq, crc) = (
            struct.unpack_from("<4sBBqIII", content, pos)
        )
        if version != 0:
            raise ValueError("ogg: unknown version")
        nsegs = content[pos + 26]
        seg_table = content[pos + 27:pos + 27 + nsegs]
        if len(seg_table) != nsegs:
            raise ValueError("ogg: truncated segment table")
        body_len = sum(seg_table)
        page_end = pos + 27 + nsegs + body_len
        if page_end > len(content):
            raise ValueError("ogg: truncated page body")
        page = bytearray(content[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError("ogg: page CRC mismatch")
        if first_packet is None:
            first_packet = content[pos + 27 + nsegs:page_end]
        if granule > 0:
            last_granule = granule
        n_pages += 1
        pos = page_end
    if first_packet is None:
        raise ValueError("ogg: no pages")
    if first_packet[:8] == b"OpusHead":
        channels = first_packet[9]
        preskip = struct.unpack_from("<H", first_packet, 10)[0]
        in_rate = struct.unpack_from("<I", first_packet, 12)[0]
        dur = round(max(0, last_granule - preskip) / 48000.0, 3)
        return {"codec": "opus", "channels": channels,
                "sample_rate": in_rate, "n_pages": n_pages,
                "duration_s": dur}
    if first_packet[:7] == b"\x01vorbis":
        channels = first_packet[11]
        rate = struct.unpack_from("<I", first_packet, 12)[0]
        dur = round(last_granule / rate, 3) if rate else None
        return {"codec": "vorbis", "channels": channels,
                "sample_rate": rate, "n_pages": n_pages,
                "duration_s": dur}
    raise ValueError("ogg: unrecognized codec id header")


# --- Matroska / WebM (EBML) container probe ---------------------------------
#
# The web-video container (WebM = Matroska doctype with VP8/VP9/AV1 +
# Vorbis/Opus): pure-spec EBML walk (RFC 8794 variable-length ids and
# sizes, master-element recursion into Segment/Info/Tracks only —
# Clusters are skipped wholesale, so the probe cost is header-bytes, not
# media-bytes). Probe tier only, same env-gate rationale as MP3/H.264.

_EBML_MASTERS = {
    0x1A45DFA3,  # EBML header
    0x18538067,  # Segment
    0x1549A966,  # Info
    0x1654AE6B,  # Tracks
    0xAE,        # TrackEntry
    0xE0,        # Video
    0xE1,        # Audio
}


def _ebml_vint(data: bytes, pos: int, keep_marker: bool):
    """RFC 8794 variable-length integer at ``pos`` → (value, new_pos).
    Element IDs keep the length-marker bit; sizes strip it (all-ones
    payload = unknown size → None)."""
    if pos >= len(data):
        raise ValueError("ebml: truncated vint")
    first = data[pos]
    if first == 0:
        raise ValueError("ebml: invalid vint")
    length = 1
    mask = 0x80
    while not (first & mask):
        length += 1
        mask >>= 1
    if pos + length > len(data):
        raise ValueError("ebml: truncated vint body")
    raw = int.from_bytes(data[pos:pos + length], "big")
    if keep_marker:
        return raw, pos + length
    value = raw & ~(mask << (8 * (length - 1)))
    all_ones = (1 << (7 * length)) - 1
    return (None if value == all_ones else value), pos + length


def probe_matroska(content: bytes) -> dict:
    """EBML/Matroska/WebM probe → doctype, duration, per-track codec
    ids, video dimensions, audio rate/channels. Clusters (the media
    payload) are never read."""
    import struct

    if content[:4] != b"\x1aE\xdf\xa3":
        raise ValueError("ebml: bad magic")
    out = {
        "doctype": None, "duration_s": None, "video_codec": None,
        "width": None, "height": None, "audio_codec": None,
        "sample_rate": None, "channels": None, "n_tracks": 0,
    }
    scale = [1_000_000]   # TimestampScale default: 1 ms in ns
    duration = [None]

    def commit_track(track: dict) -> None:
        if track.get("type") == 1:
            out["video_codec"] = track.get("codec")
            out["width"] = track.get("width")
            out["height"] = track.get("height")
        elif track.get("type") == 2:
            out["audio_codec"] = track.get("codec")
            r = track.get("rate")
            out["sample_rate"] = int(r) if r else None
            out["channels"] = track.get("channels")

    def walk(pos: int, end: int, track: dict | None) -> None:
        while pos < end:
            eid, pos = _ebml_vint(content, pos, keep_marker=True)
            size, pos = _ebml_vint(content, pos, keep_marker=False)
            payload_end = end if size is None else pos + size
            if payload_end > len(content):
                raise ValueError("ebml: truncated element")
            body = content[pos:payload_end]
            if eid == 0x4282:        # DocType
                out["doctype"] = body.decode("ascii", "replace")
            elif eid == 0x2AD7B1:    # TimestampScale
                scale[0] = int.from_bytes(body, "big")
            elif eid == 0x4489:      # Duration (float)
                if len(body) not in (0, 4, 8):  # EBML float widths
                    raise ValueError("ebml: bad float element size")
                duration[0] = struct.unpack(
                    ">f" if len(body) == 4 else ">d", body
                )[0] if body else 0.0
            elif track is not None and eid == 0x83:   # TrackType
                track["type"] = int.from_bytes(body, "big")
            elif track is not None and eid == 0x86:   # CodecID
                track["codec"] = body.decode("ascii", "replace")
            elif track is not None and eid == 0xB0:
                track["width"] = int.from_bytes(body, "big")
            elif track is not None and eid == 0xBA:
                track["height"] = int.from_bytes(body, "big")
            elif track is not None and eid == 0xB5:   # SamplingFrequency
                if len(body) not in (0, 4, 8):  # EBML float widths
                    raise ValueError("ebml: bad float element size")
                track["rate"] = struct.unpack(
                    ">f" if len(body) == 4 else ">d", body
                )[0] if body else 0.0
            elif track is not None and eid == 0x9F:
                track["channels"] = int.from_bytes(body, "big")
            elif eid == 0xAE:        # TrackEntry: fresh accumulator
                t: dict = {}
                walk(pos, payload_end, t)
                commit_track(t)
                out["n_tracks"] += 1
            elif eid in _EBML_MASTERS:
                # Video/Audio/Info/Tracks/Segment: same accumulator
                walk(pos, payload_end, track)
            pos = payload_end

    walk(0, len(content), None)
    if out["doctype"] is None:
        raise ValueError("ebml: missing DocType")
    if duration[0] is not None:
        out["duration_s"] = round(duration[0] * scale[0] / 1e9, 3)
    return out


def encode_matroska_stub(
    doctype: str = "webm", video: tuple | None = ("V_VP9", 640, 360),
    audio: tuple | None = ("A_OPUS", 48000, 2),
    duration_ms: float = 1234.0,
) -> bytes:
    """Spec-shaped Matroska/WebM fixture: EBML header with DocType,
    Segment(Info(TimestampScale, Duration), Tracks(...)) — no
    Clusters; the probe never needs them."""
    import struct

    def vint_size(v: int) -> bytes:
        # encode size in the shortest 1-4 byte form
        for length in (1, 2, 3, 4):
            if v < (1 << (7 * length)) - 1:
                marker = 1 << (7 * length)
                return (marker | v).to_bytes(length, "big")
        raise ValueError("size too large for stub")

    def elem(eid: int, payload: bytes) -> bytes:
        id_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
        return id_bytes + vint_size(len(payload)) + payload

    ebml = elem(0x1A45DFA3, elem(0x4282, doctype.encode()))
    info = elem(0x1549A966,
                elem(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
                + elem(0x4489, struct.pack(">d", duration_ms)))
    tracks = b""
    tno = 0
    if video:
        codec, w, h = video
        tno += 1
        tracks += elem(0xAE,
                       elem(0x83, b"\x01") + elem(0x86, codec.encode())
                       + elem(0xE0, elem(0xB0, w.to_bytes(2, "big"))
                              + elem(0xBA, h.to_bytes(2, "big"))))
    if audio:
        codec, rate, ch = audio
        tno += 1
        tracks += elem(0xAE,
                       elem(0x83, b"\x02") + elem(0x86, codec.encode())
                       + elem(0xE1,
                              elem(0xB5, struct.pack(">f", float(rate)))
                              + elem(0x9F, bytes([ch]))))
    segment = elem(0x18538067, info + elem(0x1654AE6B, tracks))
    return ebml + segment


# ---------------------------------------------------------------------------
# MPEG transport stream (ISO/IEC 13818-1): the broadcast/HLS carrier.
# Probe-only tier like MP4/Ogg/EBML above — PSI tables (PAT/PMT) name
# the elementary streams and the PCR clock bounds the duration, so a
# 100 TB ingest can partition/cost-model TS assets from the first few
# and last few 188-byte packets without ever touching an ES payload.

_TS_PKT = 188
_TS_PAT_PID = 0x0000
_TS_PMT_PID = 0x1000
_TS_VIDEO_PID = 0x0100
_TS_AUDIO_PID = 0x0101
# ISO 13818-1 table 2-34 stream_type assignments (the common ones)
_TS_STREAM_TYPES = {
    0x01: ("video", "mpeg1video"), 0x02: ("video", "mpeg2video"),
    0x1B: ("video", "h264"), 0x24: ("video", "hevc"),
    0x03: ("audio", "mp3"), 0x04: ("audio", "mp3"),
    0x0F: ("audio", "aac"), 0x11: ("audio", "aac-latm"),
    0x81: ("audio", "ac3"),
}
_TS_TYPE_OF_CODEC = {"h264": 0x1B, "hevc": 0x24, "aac": 0x0F,
                     "mp3": 0x03, "ac3": 0x81}


def _mpeg_crc32(data: bytes) -> int:
    """PSI section CRC-32 (poly 0x04C11DB7, init 0xFFFFFFFF, no
    reflection, no final xor) — same forward table as Ogg's variant,
    different init."""
    global _OGG_CRC
    if _OGG_CRC is None:
        _OGG_CRC = _ogg_crc_table()
    crc = 0xFFFFFFFF
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((crc >> 24) ^ b)
                                                   & 0xFF]
    return crc


def _psi_section(table_id: int, body: bytes) -> bytes:
    """table_id + section_syntax/length + body + CRC-32."""
    import struct

    seclen = len(body) + 4  # body + CRC
    sec = bytes([table_id, 0xB0 | (seclen >> 8), seclen & 0xFF]) + body
    return sec + struct.pack(">I", _mpeg_crc32(sec))


def _ts_packet(pid: int, cc: int, payload: bytes = b"",
               pusi: bool = False, pcr_base: int | None = None) -> bytes:
    """One 188-byte packet: 4-byte header, optional adaptation field
    carrying a PCR, payload padded to packet size with stuffing."""
    afc = 0
    af = b""
    if pcr_base is not None:
        af_body = bytes([
            0x10,  # PCR flag
            (pcr_base >> 25) & 0xFF, (pcr_base >> 17) & 0xFF,
            (pcr_base >> 9) & 0xFF, (pcr_base >> 1) & 0xFF,
            ((pcr_base & 1) << 7) | 0x7E,  # reserved 6 bits + ext hi
            0x00,                          # 9-bit extension = 0
        ])
        af = bytes([len(af_body)]) + af_body
        afc |= 0x2
    room = _TS_PKT - 4 - len(af)
    if len(payload) > room:
        raise ValueError("ts: payload exceeds packet")
    payload = payload + b"\xff" * (room - len(payload))
    if payload:
        afc |= 0x1
    hdr = bytes([
        0x47,
        (0x40 if pusi else 0x00) | (pid >> 8), pid & 0xFF,
        (afc << 4) | (cc & 0xF),
    ])
    return hdr + af + payload


def encode_mpegts_stub(
    duration_ms: int,
    n_video: int = 0,
    n_audio: int = 4,
    audio_codec: str = "aac",
    video_codec: str = "h264",
    corrupt_cc: bool = False,
) -> bytes:
    """Fixture-grade transport stream: PAT -> PMT (real CRC-32 PSI
    sections) -> PES-started elementary packets on fixed PIDs with
    per-PID continuity counters, PCR on the PCR PID in the first and
    last of its packets spanning ``duration_ms``. ES payload bytes are
    stuffing — this writer exists for the PSI/PCR walk, not decode
    (same stub scope as encode_mp4_stub)."""
    import struct

    streams = []
    if n_video:
        streams.append((_TS_TYPE_OF_CODEC[video_codec], _TS_VIDEO_PID))
    if n_audio:
        streams.append((_TS_TYPE_OF_CODEC[audio_codec], _TS_AUDIO_PID))
    if not streams:
        raise ValueError("ts: at least one elementary stream")
    pcr_pid = streams[0][1]

    pat = _psi_section(0x00, struct.pack(">H", 1) + b"\xc1\x00\x00"
                       + struct.pack(">H", 1)
                       + bytes([0xE0 | (_TS_PMT_PID >> 8),
                                _TS_PMT_PID & 0xFF]))
    es_loop = b"".join(
        bytes([stype, 0xE0 | (pid >> 8), pid & 0xFF, 0xF0, 0x00])
        for stype, pid in streams
    )
    pmt = _psi_section(0x02, struct.pack(">H", 1) + b"\xc1\x00\x00"
                       + bytes([0xE0 | (pcr_pid >> 8), pcr_pid & 0xFF])
                       + b"\xf0\x00" + es_loop)

    out = [
        _ts_packet(_TS_PAT_PID, 0, b"\x00" + pat, pusi=True),
        _ts_packet(_TS_PMT_PID, 0, b"\x00" + pmt, pusi=True),
    ]
    pcr_last = duration_ms * 90  # 90 kHz base clock

    def es_packets(pid: int, count: int, stream_id: int) -> None:
        pes = (b"\x00\x00\x01" + bytes([stream_id])
               + b"\x00\x00\x80\x00\x00")
        for i in range(count):
            cc = i + (1 if corrupt_cc and i >= count // 2 else 0)
            pcr = None
            if pid == pcr_pid:
                pcr = 0 if i == 0 else (
                    pcr_last if i == count - 1 else None
                )
            out.append(_ts_packet(
                pid, cc, pes if i == 0 else b"\xaa" * 16,
                pusi=(i == 0), pcr_base=pcr,
            ))

    if n_video:
        es_packets(_TS_VIDEO_PID, n_video, 0xE0)
    if n_audio:
        es_packets(_TS_AUDIO_PID, n_audio, 0xC0)
    return b"".join(out)


def probe_mpegts(content: bytes) -> dict:
    """Transport-stream probe: sync-byte lattice check, PAT -> PMT
    walk (CRC-32 verified), per-PID packet/PES counts, per-PID
    continuity-counter error count, duration from the PCR span on the
    PMT-declared PCR PID. Elementary payloads are never parsed."""
    import struct

    if len(content) < 2 * _TS_PKT or len(content) % _TS_PKT:
        raise ValueError("ts: length is not a 188-byte packet lattice")
    n = len(content) // _TS_PKT
    pmt_pids: set[int] = set()
    n_programs = 0
    streams: list[tuple[int, int]] = []
    pcr_pid = None
    pkt_count: dict[int, int] = {}
    pes_count: dict[int, int] = {}
    last_cc: dict[int, int] = {}
    cc_errors = 0
    # PCRs buffered per carrying PID: the PMT (which declares the PCR
    # PID) may arrive AFTER the first PCRs, and undeclared PIDs can
    # carry PCR-flagged adaptation fields — deciding whose clock to
    # trust must wait until the PMT is parsed
    pcr_span: dict[int, list[int]] = {}

    def section(pkt: bytes, off: int) -> bytes:
        if off >= len(pkt):
            raise ValueError("ts: PSI pointer past packet end")
        ptr = pkt[off]
        start = off + 1 + ptr
        if start + 3 > len(pkt):
            raise ValueError("ts: truncated PSI section")
        seclen = ((pkt[start + 1] & 0x0F) << 8) | pkt[start + 2]
        if seclen < 9:  # 5 syntax-header bytes + CRC minimum
            raise ValueError("ts: PSI section too short")
        sec = pkt[start:start + 3 + seclen]
        if len(sec) != 3 + seclen:
            raise ValueError("ts: truncated PSI section")
        if _mpeg_crc32(sec[:-4]) != struct.unpack(">I", sec[-4:])[0]:
            raise ValueError("ts: PSI CRC-32 mismatch")
        return sec

    for i in range(n):
        pkt = content[i * _TS_PKT:(i + 1) * _TS_PKT]
        if pkt[0] != 0x47:
            raise ValueError(f"ts: lost sync at packet {i}")
        pusi = bool(pkt[1] & 0x40)
        pid = ((pkt[1] & 0x1F) << 8) | pkt[2]
        afc = (pkt[3] >> 4) & 0x3
        cc = pkt[3] & 0xF
        off = 4
        if afc & 0x2:  # adaptation field
            aflen = pkt[off]
            if off + 1 + aflen > len(pkt):
                raise ValueError("ts: adaptation field past packet end")
            if aflen and (pkt[off + 1] & 0x10):  # PCR flag
                b = pkt[off + 2:off + 8]
                if len(b) < 6 or aflen < 7:
                    raise ValueError("ts: truncated PCR field")
                base = ((b[0] << 25) | (b[1] << 17) | (b[2] << 9)
                        | (b[3] << 1) | (b[4] >> 7))
                span = pcr_span.setdefault(pid, [base, base])
                span[1] = base
            off += 1 + aflen
        if pid == 0x1FFF:  # null packet
            continue
        pkt_count[pid] = pkt_count.get(pid, 0) + 1
        if afc & 0x1:  # payload-bearing: continuity counter advances
            prev = last_cc.get(pid)
            if prev is not None and cc != (prev + 1) % 16:
                cc_errors += 1
            last_cc[pid] = cc
        if pid == _TS_PAT_PID and pusi:
            sec = section(pkt, off)
            if sec[0] != 0x00:
                raise ValueError("ts: PAT table_id mismatch")
            for p in range(8, len(sec) - 4, 4):
                prog = struct.unpack(">H", sec[p:p + 2])[0]
                mpid = ((sec[p + 2] & 0x1F) << 8) | sec[p + 3]
                if prog != 0:  # 0 = network PID, not a program
                    n_programs += 1
                    pmt_pids.add(mpid)
        elif pid in pmt_pids and pusi:
            sec = section(pkt, off)
            if sec[0] != 0x02:
                raise ValueError("ts: PMT table_id mismatch")
            pcr_pid = ((sec[8] & 0x1F) << 8) | sec[9]
            pilen = ((sec[10] & 0x0F) << 8) | sec[11]
            p = 12 + pilen
            while p + 5 <= len(sec) - 4:
                stype = sec[p]
                epid = ((sec[p + 1] & 0x1F) << 8) | sec[p + 2]
                eslen = ((sec[p + 3] & 0x0F) << 8) | sec[p + 4]
                streams.append((stype, epid))
                p += 5 + eslen
        elif pusi and pkt[off:off + 3] == b"\x00\x00\x01":
            pes_count[pid] = pes_count.get(pid, 0) + 1

    if not pmt_pids:
        raise ValueError("ts: no PAT program entries")
    video = audio = None
    for stype, _pid in streams:
        kind, codec = _TS_STREAM_TYPES.get(stype, ("data", hex(stype)))
        if kind == "video" and video is None:
            video = codec
        elif kind == "audio" and audio is None:
            audio = codec
    # duration strictly from the PMT-declared PCR PID's clock
    # (0x1FFF = "no PCR carried", ISO 13818-1 §2.4.4.9). A capture
    # whose PMT packet is missing (PAT present, table cut mid-stream)
    # falls back to the single PID with the widest span — still one
    # clock, never the old mixed-PID first/last that the per-PID
    # buffering exists to prevent.
    if pcr_pid is not None:
        span = pcr_span.get(pcr_pid) if pcr_pid != 0x1FFF else None
    else:
        span = max(
            pcr_span.values(),
            key=lambda s: s[1] - s[0],
            default=None,
        )
    duration = (
        round((span[1] - span[0]) / 90000.0, 3)
        if span is not None and span[1] != span[0] else None
    )
    return {
        "n_packets": n, "n_programs": n_programs,
        "n_streams": len(streams), "video_codec": video,
        "audio_codec": audio, "pcr_pid": pcr_pid,
        "duration_s": duration, "cc_errors": cc_errors,
        "n_pes": sum(pes_count.values()),
        "es_packets": {pid: c for pid, c in sorted(pkt_count.items())
                       if pid not in {_TS_PAT_PID} | pmt_pids},
    }


# ---------------------------------------------------------------------------
# ADTS AAC (ISO/IEC 14496-3 §1.A.3): the raw AAC stream framing used by
# broadcast/HLS audio. Header-only probe like the MPEG-audio frame walk
# — profile/rate/channels from the fixed header, duration from the raw
# data block count (1024 samples per block); payloads never parsed.

_ADTS_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350)
_ADTS_PROFILES = ("main", "lc", "ssr", "ltp")


def encode_adts_stub(
    n_frames: int,
    profile: str = "lc",
    sample_rate: int = 44100,
    channels: int = 2,
    crc: bool = False,
    blocks_per_frame: int = 1,
) -> bytes:
    """Fixture-grade ADTS stream: spec headers (7 bytes, or 9 with the
    CRC field present — CRC bytes are zero placeholders, flagged so
    the probe skips them), dummy raw-data payloads. Exists for the
    frame walk, not decode."""
    if profile not in _ADTS_PROFILES:
        raise ValueError("adts: unknown profile")
    if sample_rate not in _ADTS_RATES:
        raise ValueError("adts: non-table sample rate")
    if not 1 <= channels <= 7:
        raise ValueError("adts: channel configuration 1-7")
    if not 1 <= blocks_per_frame <= 4:
        raise ValueError("adts: 1-4 raw data blocks per frame")
    prof_idx = _ADTS_PROFILES.index(profile)
    rate_idx = _ADTS_RATES.index(sample_rate)
    hdr_len = 9 if crc else 7
    payload = bytes([0x21] * 40)
    frame_len = hdr_len + len(payload)
    out = bytearray()
    for _ in range(n_frames):
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF0 | (0 << 3) | (0 << 1) | (0 if crc else 1)
        h[2] = (prof_idx << 6) | (rate_idx << 2) | ((channels >> 2) & 1)
        h[3] = ((channels & 0x3) << 6) | ((frame_len >> 11) & 0x3)
        h[4] = (frame_len >> 3) & 0xFF
        h[5] = ((frame_len & 0x7) << 5) | 0x1F  # fullness hi
        h[6] = (0x3F << 2) | (blocks_per_frame - 1)
        out += h
        if crc:
            out += b"\x00\x00"
        out += payload
    return bytes(out)


def probe_adts(content: bytes) -> dict:
    """ADTS frame walk: per-frame sync check, constant
    profile/rate/channels enforced across frames, frame count and raw
    data block count, duration = blocks * 1024 / rate."""
    if len(content) < 7 or content[0] != 0xFF or \
            (content[1] & 0xF6) != 0xF0:
        raise ValueError("adts: bad sync")
    pos = 0
    n_frames = 0
    n_blocks = 0
    sig = None
    while pos < len(content):
        if pos + 7 > len(content):
            raise ValueError("adts: truncated header")
        h = content[pos:pos + 7]
        if h[0] != 0xFF or (h[1] & 0xF6) != 0xF0:
            raise ValueError(f"adts: lost sync at frame {n_frames}")
        mpeg2 = (h[1] >> 3) & 1
        prof_idx = h[2] >> 6
        rate_idx = (h[2] >> 2) & 0xF
        if rate_idx >= len(_ADTS_RATES):
            raise ValueError("adts: reserved sampling frequency index")
        channels = ((h[2] & 1) << 2) | (h[3] >> 6)
        frame_len = ((h[3] & 0x3) << 11) | (h[4] << 3) | (h[5] >> 5)
        hdr_len = 7 if (h[1] & 1) else 9
        if frame_len < hdr_len:
            raise ValueError("adts: frame length below header size")
        if pos + frame_len > len(content):
            raise ValueError("adts: truncated frame")
        this_sig = (mpeg2, prof_idx, rate_idx, channels)
        if sig is None:
            sig = this_sig
        elif this_sig != sig:
            raise ValueError("adts: stream parameters changed mid-file")
        n_frames += 1
        n_blocks += (h[6] & 0x3) + 1
        pos += frame_len
    rate = _ADTS_RATES[sig[2]]
    return {
        "mpeg_version": 2 if sig[0] else 4,
        "profile": _ADTS_PROFILES[sig[1]],
        "sample_rate": rate,
        "channels": sig[3],
        "n_frames": n_frames,
        "n_blocks": n_blocks,
        "duration_s": round(n_blocks * 1024 / rate, 3),
    }
