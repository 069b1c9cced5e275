"""From-scratch, stdlib-only media codecs: BMP, PNG, WAV, JPEG.

These are the REAL default decoders behind ``operators/multimodal.py`` —
the same spirit as the 7z and Avro codecs in ``sources/``: no imaging or
audio library exists in the runtime, so the PUBLIC format specifications
are implemented directly:

* BMP  — Windows BITMAPINFOHEADER, uncompressed BI_RGB, 24/32-bit
         (bottom-up and top-down), 4-byte row padding.
* PNG  — ISO/IEC 15948: signature + chunked layout with CRC-32
         verification, IHDR, concatenated IDAT zlib streams, all five
         scanline filters (None/Sub/Up/Average/Paeth), color types
         0/2/3/4/6 (greyscale, RGB, palette via PLTE with optional tRNS
         alpha, grey+alpha, RGBA), every bit depth the spec allows per
         type (1/2/4/8/16; sub-byte for greyscale and palette, 16-bit
         for the non-palette types, folded to 8 by the standard strip-16
         high-byte convention), and both non-interlaced and
         Adam7-interlaced layouts.
* GIF  — 87a/89a: logical screen + global/local color tables, the full
         variable-width LSB-first LZW decoder (code-width growth, CLEAR
         resets, 4096-entry cap), 4-pass row interlacing, transparency
         via the Graphic Control Extension (alpha-0 pixels), first frame
         of animations composited on the background color.
* WAV  — RIFF/WAVE with word-aligned chunk walk, PCM (format 1) fmt
         parsing, sample-accurate duration, block-aligned frame
         slicing, 16-bit sample decode.
* JPEG — ITU-T T.81 DCT with JFIF color: marker walk, 8/16-bit DQT,
         canonical-Huffman DHT, SOF0 baseline (1- or 3-component,
         arbitrary 1-4 sampling factors, interleaved or per-component
         scans) AND SOF2 progressive (spectral selection + successive
         approximation per Annex G: DC first/refine, AC first/refine
         with EOB runs), DRI/RSTn restarts, byte-unstuffing, vectorized
         8x8 IDCT, box-replication upsampling, JFIF YCbCr->RGB.
         Arithmetic/hierarchical/12-bit frames are rejected explicitly.
* AVI  — RIFF/AVI container walk (LIST hdrl main+stream headers, LIST
         movi frame chunks incl. 'rec ' groups): the video modality.
         With the MJPG handler each frame chunk is a standalone
         baseline JPEG, so frame sampling + the JPEG decoder give real
         video frame decode; meta is header-only (movi never scanned).
* MP3  — ISO 11172-3/13818-3 Layer III frame-header walk (ID3v2 skip,
         MPEG-1/2/2.5 bitrate+samplerate tables, padding slots):
         sample-accurate duration and channel/bitrate metadata without
         subband synthesis. Full PCM decode is out of scope; features
         fall back to the byte histogram.

Encoders (BMP 24-bit, PNG filter-0, WAV PCM16, baseline JFIF from YCbCr
planes) exist so the resize operator can emit real image bytes and so
fixtures can synthesize media deterministically; decode correctness is
proven against HAND-CONSTRUCTED spec bytes in tests (built with
struct/zlib, not these encoders).

Scale note: decode is necessarily per-payload Python — it runs inside
one Arrow pass-through map per operator (``functions.udfs.arrow_map``),
so the payload crosses the JVM/Python boundary exactly once, and the
only per-byte Python loops are the rare PNG filter types 3/4 (the
common filters 0/1/2 and every other codec path are vectorized numpy).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


class MediaFormatError(ValueError):
    """Payload does not conform to the format its magic bytes claim."""


def _format_errors(fn):
    """Decorator: every malformed-payload failure mode surfaces as
    MediaFormatError. The parsers index, unpack and inflate untrusted
    bytes — a truncated fmt chunk raises struct.error, a corrupt IDAT
    raises zlib.error, a short buffer IndexError — and the operator
    layer's downgrade-vs-strict policy catches MediaFormatError ONLY, so
    anything else escaping here would kill a whole Spark task over one
    bad payload in the corpus."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except MediaFormatError:
            raise
        except (struct.error, zlib.error, IndexError, ValueError,
                AssertionError, UnicodeDecodeError, OverflowError) as e:
            raise MediaFormatError(
                f"{fn.__name__}: malformed payload ({e})") from e
    return wrapped


# --------------------------------------------------------------------------
# BMP
# --------------------------------------------------------------------------

@_format_errors
def bmp_header(data: bytes) -> tuple[int, int, int, int, int]:
    """(width, height(+), bpp, data_offset, top_down) from a BMP's
    headers — validated (format, compression, bounds vs payload length)
    but WITHOUT touching the pixel array: the cheap metadata path,
    mirror of png_ihdr."""
    data = bytes(data)
    if len(data) < 54 or data[:2] != b"BM":
        raise MediaFormatError("not a BMP")
    (data_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise MediaFormatError("BITMAPCOREHEADER not supported")
    width, height = struct.unpack_from("<ii", data, 18)
    _, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if compression != 0:
        raise MediaFormatError(f"only BI_RGB supported, got {compression}")
    if bpp not in (24, 32):
        raise MediaFormatError(f"only 24/32-bit supported, got {bpp}")
    top_down, h = height < 0, abs(height)
    if width <= 0 or h == 0:
        raise MediaFormatError(f"bad dimensions {width}x{height}")
    row = ((bpp * width + 31) // 32) * 4
    if len(data) < data_off + row * h or data_off < 0:
        raise MediaFormatError("truncated pixel array")
    return width, h, bpp, data_off, int(top_down)


@_format_errors
def decode_bmp(data: bytes) -> np.ndarray:
    """BI_RGB 24/32-bit BMP -> (h, w, 3) uint8 RGB array."""
    data = bytes(data)
    width, h, bpp, data_off, top_down = bmp_header(data)
    row = ((bpp * width + 31) // 32) * 4
    px = np.frombuffer(data, np.uint8, count=row * h,
                       offset=data_off).reshape(h, row)
    ch = bpp // 8
    px = px[:, :width * ch].reshape(h, width, ch)
    if not top_down:
        px = px[::-1]
    # stored BGR(A): reorder to RGB, dropping alpha
    return np.ascontiguousarray(px[..., 2::-1][..., :3])


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w[, ch]) uint8 -> 24-bit bottom-up BI_RGB BMP bytes.
    Greyscale is replicated to 3 channels; alpha is dropped."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.shape[2] in (1, 2):  # grey / grey+alpha
        arr = np.repeat(arr[:, :, :1], 3, axis=2)
    arr = arr[:, :, :3]
    h, w, _ = arr.shape
    row = ((24 * w + 31) // 32) * 4
    body = np.zeros((h, row), np.uint8)
    body[:, :w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    hdr = (b"BM" + struct.pack("<IHHI", 54 + body.size, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, body.size,
                         2835, 2835, 0, 0))
    return hdr + body.tobytes()


# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunks(data: bytes):
    pos = 8
    while pos + 12 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if len(body) != ln:
            raise MediaFormatError("truncated chunk")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + ln)
        if zlib.crc32(typ + body) & 0xFFFFFFFF != crc:
            raise MediaFormatError(f"CRC mismatch in {typ!r}")
        yield typ, body
        if typ == b"IEND":
            return
        pos += 12 + ln
    raise MediaFormatError("missing IEND")


def _png_ihdr_full(data: bytes) -> tuple[int, int, int, int, int]:
    if not data.startswith(PNG_SIG):
        raise MediaFormatError("not a PNG")
    typ, body = next(_png_chunks(data))
    if typ != b"IHDR" or len(body) != 13:
        raise MediaFormatError("first chunk is not a valid IHDR")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", body)
    if comp != 0 or filt != 0:
        raise MediaFormatError("nonstandard compression/filter method")
    if interlace not in (0, 1):
        raise MediaFormatError(f"unknown interlace method {interlace}")
    if w == 0 or h == 0:
        raise MediaFormatError("zero dimension")
    return w, h, depth, ctype, interlace


@_format_errors
def png_ihdr(data: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit_depth, color_type) from a PNG's IHDR —
    header-only, no decompression (the cheap metadata path)."""
    return _png_ihdr_full(bytes(data))[:4]


# Executor-memory guard for untrusted corpora: a payload may DECLARE any
# dimensions in its 13-byte IHDR; decode refuses to allocate past this
# (64M pixels ≈ 256 MB RGBA) instead of OOM-killing the Python worker.
MAX_PIXELS = 64 * 1024 * 1024


# Adam7 pass layout: (x0, y0, dx, dy) per pass, spec order.
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

# color type -> bit depths this decoder supports — exactly the spec's
# legal combinations (palette is never 16-bit).
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}
# color type -> channels per pixel IN THE SCANLINE (palette scans are
# 1-channel index streams; they widen to RGB/RGBA after PLTE lookup).
_PNG_SCAN_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter(raw: np.ndarray, n_rows: int, stride: int,
              bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering: (n_rows, stride+1) uint8 rows
    with a leading filter byte -> (n_rows, stride) uint8."""
    out = np.empty((n_rows, stride), np.uint8)
    prev = np.zeros(stride, np.int64)
    for y in range(n_rows):
        f = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int64)
        if f == 0:  # None
            cur = line
        elif f == 1:  # Sub: per-pixel-byte prefix sum mod 256 (vectorized)
            cur = np.cumsum(line.reshape(stride // bpp, bpp), axis=0) \
                .reshape(stride) & 0xFF
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f in (3, 4):  # Average / Paeth need the sequential scan
            cur = np.empty(stride, np.int64)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise MediaFormatError(f"unknown filter type {f}")
        out[y] = cur
        prev = cur
    return out


def _expand_samples(rows: np.ndarray, pw: int, ch: int,
                    depth: int) -> np.ndarray:
    """(n_rows, stride) unfiltered scanline bytes -> (n_rows, pw*ch)
    uint8 samples (palette indices, or raw sub-byte greyscale values).
    Sub-byte samples pack MSB-first within each byte per the spec;
    16-bit samples are big-endian and fold to 8 bits by the standard
    strip-16 high-byte convention (libpng png_set_strip_16)."""
    if depth == 8:
        return rows
    if depth == 16:
        return rows[:, 0::2]
    bits = np.unpackbits(rows, axis=1)  # MSB-first, matching the spec
    n = pw * ch  # ch == 1 for every color type the spec allows sub-byte
    bits = bits[:, :n * depth].reshape(rows.shape[0], n, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights).sum(axis=2).astype(np.uint8)


@_format_errors
def decode_png(data: bytes, max_pixels: int = MAX_PIXELS) -> np.ndarray:
    """PNG (color types 0/2/3/4/6, bit depths 1/2/4/8/16, non-interlaced
    or Adam7-interlaced) -> (h, w, ch) uint8 array. Palette images
    resolve through PLTE to RGB, or RGBA when a tRNS chunk supplies
    per-entry alpha; sub-byte greyscale samples scale to the full 0-255
    range per the spec (×255/(2^depth−1), exact for depths 1/2/4);
    16-bit samples fold to their high byte (strip-16)."""
    data = bytes(data)
    w, h, depth, ctype, interlace = _png_ihdr_full(data)
    if ctype not in _PNG_SCAN_CH:
        raise MediaFormatError(f"color type {ctype} unsupported")
    if depth not in _PNG_DEPTHS[ctype]:
        raise MediaFormatError(
            f"bit depth {depth} unsupported for color type {ctype}")
    if w * h > max_pixels:
        raise MediaFormatError(f"declared {w}x{h} exceeds max_pixels")
    ch = _PNG_SCAN_CH[ctype]
    idat, plte, trns = [], None, None
    for typ, body in _png_chunks(data):
        if typ == b"IDAT":
            idat.append(body)
        elif typ == b"PLTE":
            plte = body
        elif typ == b"tRNS":
            trns = body
    idat = b"".join(idat)
    if not idat:
        raise MediaFormatError("no IDAT")

    def _stride(pw: int) -> int:
        return (pw * ch * depth + 7) // 8

    if interlace == 0:
        passes = [(0, 0, 1, 1, w, h)]
    else:  # Adam7: empty passes carry no scanlines at all
        passes = [(x0, y0, dx, dy,
                   (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy)
                  for x0, y0, dx, dy in _ADAM7
                  if (w - x0 + dx - 1) // dx > 0
                  and (h - y0 + dy - 1) // dy > 0]
    expected = sum((_stride(pw) + 1) * ph for *_, pw, ph in passes)
    # bounded inflate: a decompression bomb must not materialize more
    # than the declared scanline bytes (+1 to detect oversize) before
    # the length check can reject it
    dec = zlib.decompressobj()
    raw = dec.decompress(idat, expected + 1)
    if len(raw) > expected or dec.unconsumed_tail or dec.decompress(b"", 1):
        raise MediaFormatError("IDAT inflates past declared dimensions")
    if len(raw) != expected:
        raise MediaFormatError("decompressed length mismatch")

    bpp = max(1, ch * depth // 8)  # the filters' "prior byte" distance
    img = np.empty((h, w, ch), np.uint8)
    pos = 0
    for x0, y0, dx, dy, pw, ph in passes:
        stride = _stride(pw)
        n = (stride + 1) * ph
        rows = np.frombuffer(raw[pos:pos + n], np.uint8) \
            .reshape(ph, stride + 1)
        pos += n
        flat = _expand_samples(_unfilter(rows, ph, stride, bpp),
                               pw, ch, depth)
        img[y0::dy, x0::dx, :] = flat.reshape(ph, pw, ch)

    if ctype == 3:
        if plte is None or len(plte) == 0 or len(plte) % 3:
            raise MediaFormatError("palette image without a valid PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = img[:, :, 0]
        if int(idx.max()) >= pal.shape[0]:
            raise MediaFormatError("palette index out of range")
        rgb = pal[idx]
        if trns is None:
            return rgb
        if len(trns) > pal.shape[0]:
            raise MediaFormatError("tRNS longer than palette")
        alpha = np.full(pal.shape[0], 255, np.uint8)
        alpha[:len(trns)] = np.frombuffer(trns, np.uint8)
        return np.dstack([rgb, alpha[idx]])
    if depth < 8:
        # max sample × multiplier is exactly 255, so uint8 can't wrap
        img = img * np.uint8(255 // ((1 << depth) - 1))
    return img


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w[, ch]) uint8 -> non-interlaced 8-bit PNG, filter 0 rows,
    one IDAT. ch 1/2/3/4 -> color type 0/4/2/6."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = np.zeros((h, w * ch + 1), np.uint8)
    raw[:, 1:] = arr.reshape(h, w * ch)
    idat = zlib.compress(raw.tobytes(), 9)

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b""))


# --------------------------------------------------------------------------
# WAV
# --------------------------------------------------------------------------

@_format_errors
def parse_wav(data: bytes) -> dict:
    """RIFF/WAVE PCM header walk -> {channels, sample_rate, bits,
    block_align, data_offset, data_bytes, duration_ms}. Metadata-only:
    no sample decode."""
    data = bytes(data)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise MediaFormatError("not a RIFF/WAVE file")
    fmt = None
    data_off = data_len = None
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if cid == b"fmt " and ln >= 16:
            audio_fmt, channels, rate = struct.unpack_from("<HHI", data,
                                                           body)
            (bits,) = struct.unpack_from("<H", data, body + 14)
            if audio_fmt != 1:
                raise MediaFormatError(
                    f"only PCM (format 1) supported, got {audio_fmt}")
            fmt = (channels, rate, bits)
        elif cid == b"data":
            data_off = body
            data_len = min(ln, len(data) - body)
        pos = body + ln + (ln & 1)  # RIFF chunks are word-aligned
    if fmt is None or data_off is None:
        raise MediaFormatError("missing fmt/data chunk")
    channels, rate, bits = fmt
    if channels < 1 or rate <= 0 or bits % 8 or bits == 0:
        raise MediaFormatError(f"bad fmt: {channels}ch {rate}Hz {bits}bit")
    block = channels * (bits // 8)
    return {
        "channels": channels, "sample_rate": rate, "bits": bits,
        "block_align": block, "data_offset": data_off,
        "data_bytes": data_len,
        "duration_ms": data_len * 1000 // (rate * block),
    }


@_format_errors
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """PCM16 WAV -> ((n_samples, channels) int16 array, sample_rate)."""
    info = parse_wav(data)
    if info["bits"] != 16:
        raise MediaFormatError("sample decode supports 16-bit PCM only")
    n = info["data_bytes"] // 2
    pcm = np.frombuffer(bytes(data), "<i2", count=n,
                        offset=info["data_offset"])
    return pcm.reshape(-1, info["channels"]), info["sample_rate"]


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n[, channels]) int16 -> PCM16 RIFF/WAVE bytes."""
    samples = np.asarray(samples, dtype="<i2")
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    body = samples.tobytes()
    block = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block, block, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)


def _check_n_frames(n: int) -> None:
    """Programmer-error guard for the frame samplers. MUST run OUTSIDE
    any ``@_format_errors`` body: the decorator converts ValueError into
    MediaFormatError, which the operator layer's downgrade policy then
    silently swallows as a byte-slice fallback — masking the caller bug
    the guard exists to surface. frame_sample also validates this on the
    driver before any job launches."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")


def wav_frames(data: bytes, n: int) -> list[bytes]:
    """Split the PCM payload into <=n contiguous BLOCK-ALIGNED segments
    (equal sample counts up to rounding) — the audio analogue of video
    frame sampling; raw PCM out, headers stripped."""
    _check_n_frames(n)
    return _wav_frames(data, n)


@_format_errors
def _wav_frames(data: bytes, n: int) -> list[bytes]:
    info = parse_wav(data)
    block, off = info["block_align"], info["data_offset"]
    total = info["data_bytes"] // block
    data = bytes(data)
    bounds = [i * total // n for i in range(n + 1)]
    return [data[off + a * block:off + b * block]
            for a, b in zip(bounds, bounds[1:]) if b > a]


# --------------------------------------------------------------------------
# JPEG (baseline sequential DCT, ITU-T T.81 / JFIF)
# --------------------------------------------------------------------------
# From-scratch decoder + encoder on stdlib+numpy, same spirit as the
# 7z/Avro/PNG codecs: marker segment walk, DQT (8/16-bit), DHT (canonical
# Huffman), SOF0 baseline (interleaved or per-component scans) AND SOF2
# progressive (spectral selection + successive approximation, T.81 Annex
# G), DRI/RSTn restart segments, byte-unstuffing, Huffman entropy decode
# into per-component coefficient grids, dequantize, vectorized 8x8 IDCT
# over all blocks at once, box-replication chroma upsampling, JFIF
# YCbCr->RGB. Arithmetic coding, hierarchical and 12-bit frames are
# explicitly rejected as MediaFormatError. The entropy decode is
# necessarily a per-symbol Python loop (bit-serial Huffman); the numeric
# stages (dequant, IDCT, color convert) are whole-image numpy.

# zigzag scan: position k in the coded stream -> row-major coefficient index
_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

_SOF_UNSUPPORTED = {
    0xC1: "extended sequential", 0xC3: "lossless",
    0xC5: "differential sequential", 0xC6: "differential progressive",
    0xC7: "differential lossless", 0xC9: "arithmetic sequential",
    0xCA: "arithmetic progressive", 0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic seq", 0xCE: "differential arithmetic prog",
    0xCF: "differential arithmetic lossless",
}


def _dct_basis() -> np.ndarray:
    """A[u, x] = C(u)/2 * cos((2x+1) u pi / 16): IDCT is A.T @ F @ A,
    FDCT is A @ f @ A.T (T.81 Annex A.3.3)."""
    x = np.arange(8)
    a = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    a[0] *= 1.0 / np.sqrt(2.0)
    return a


_DCT_A = _dct_basis()


def _huff_canonical(bits: list, vals: list) -> dict:
    """T.81 Annex C canonical code assignment ->
    {(length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise MediaFormatError("DHT count/value mismatch")
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


class _BitReader:
    """MSB-first bit reader over one unstuffed entropy segment."""

    __slots__ = ("b", "i", "acc", "n")

    def __init__(self, b: bytes):
        self.b, self.i, self.acc, self.n = b, 0, 0, 0

    def bit(self) -> int:
        if self.n == 0:
            if self.i >= len(self.b):
                raise MediaFormatError("entropy segment exhausted")
            self.acc = self.b[self.i]
            self.i += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise MediaFormatError("invalid Huffman code")


def _next_marker(data: bytes, pos: int):
    """Step the marker walk once from ``pos``: skip fill bytes, classify
    the marker, parse its length field. Returns (marker, body, next_pos)
    — body is None for standalone markers (RSTn/TEM) and EOI. The ONE
    marker-walk implementation shared by the header path and the
    multi-scan decoder."""
    n = len(data)
    if data[pos] != 0xFF:
        raise MediaFormatError(f"expected marker at {pos}")
    while pos < n and data[pos] == 0xFF:
        pos += 1  # fill bytes
    if pos >= n:
        return None, None, n
    marker = data[pos]
    pos += 1
    if marker == 0xD9 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
        return marker, None, pos
    if pos + 2 > n:
        raise MediaFormatError("truncated marker segment")
    (ln,) = struct.unpack_from(">H", data, pos)
    if ln < 2 or pos + ln > n:
        raise MediaFormatError("truncated marker segment")
    return marker, data[pos + 2:pos + ln], pos + ln


def _jpeg_segments(data: bytes):
    """Yield (marker, payload, end_pos) for each marker segment after
    SOI; stops at SOS (yielding it) or EOI. Entropy data handling is the
    caller's."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise MediaFormatError("not a JPEG (no SOI)")
    pos = 2
    while pos + 1 < len(data):
        marker, body, pos = _next_marker(data, pos)
        if marker is None:
            break
        if marker == 0xD9:  # EOI
            return
        if body is None:  # standalone RSTn/TEM
            continue
        yield marker, body, pos
        if marker == 0xDA:  # SOS: entropy data follows
            return
    raise MediaFormatError("missing SOS/EOI")


@_format_errors
def jpeg_header(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_components) from the first SOFn — header walk
    only, no entropy decode (the cheap metadata path). Accepts any SOFn
    for metadata; decode_jpeg itself decodes SOF0 baseline and SOF2
    progressive frames."""
    data = bytes(data)
    for marker, body, _ in _jpeg_segments(data):
        if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            if len(body) < 6:
                raise MediaFormatError("truncated SOF")
            _, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if w == 0 or h == 0:
                raise MediaFormatError("zero dimension")
            return w, h, ncomp
    raise MediaFormatError("no SOF before SOS")


def _entropy_segments(data: bytes, pos: int) -> tuple[list, int]:
    """Unstuff the entropy-coded data starting at ``pos``: returns the
    byte segments delimited by RSTn markers (restart boundaries are
    byte-aligned; DC predictors reset per segment) plus the offset of
    the terminating marker's 0xFF (so multi-scan files can resume the
    marker walk there)."""
    segs, cur, i, n = [], bytearray(), pos, len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = data[i + 1] if i + 1 < n else None
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif nxt == 0xFF:
            i += 1  # T.81 B.1.1.2: 0xFF fill bytes may pad before a marker
        elif nxt is not None and 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:
            break  # terminating marker (EOI or next header)
    segs.append(bytes(cur))
    return segs, i


@_format_errors
def decode_jpeg(data: bytes, max_pixels: int = MAX_PIXELS) -> np.ndarray:
    """JFIF JPEG -> (h, w, ch) uint8; ch=1 for grayscale frames, ch=3
    (RGB) for YCbCr frames. Supports baseline sequential (SOF0; one
    interleaved scan or a sequence of per-component scans) and
    progressive (SOF2; spectral selection + successive approximation
    per T.81 Annex G — DC first/refine interleaved or not, AC
    first/refine with EOB runs), with DRI/RSTn restarts in every scan
    shape. Arithmetic, lossless, hierarchical and 12-bit frames are
    rejected explicitly."""
    data = bytes(data)
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise MediaFormatError("not a JPEG (no SOI)")
    qt, huff = {}, {}
    frame = None
    restart = 0
    scans_done = 0
    pos, n = 2, len(data)
    while pos < n:
        marker, body, pos = _next_marker(data, pos)
        if marker is None or marker == 0xD9:  # end of data / EOI
            break
        if body is None:  # standalone RSTn/TEM
            continue
        if marker in _SOF_UNSUPPORTED:
            raise MediaFormatError(
                f"only sequential/progressive DCT supported "
                f"(got SOF {_SOF_UNSUPPORTED[marker]})")
        if marker == 0xDB:  # DQT, possibly several tables
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 15
                p += 1
                if pq not in (0, 1) or tq > 3:
                    raise MediaFormatError("bad DQT header")
                cnt = 64 * (2 if pq else 1)
                if p + cnt > len(body):
                    raise MediaFormatError("truncated DQT")
                dt = ">64H" if pq else "64B"
                qt[tq] = np.array(struct.unpack_from(dt, body, p),
                                  dtype=np.int64)
                p += cnt
        elif marker == 0xC4:  # DHT, possibly several tables
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 15
                if tc not in (0, 1) or th > 3:
                    raise MediaFormatError("bad DHT header")
                bits = list(body[p + 1:p + 17])
                nv = sum(bits)
                vals = list(body[p + 17:p + 17 + nv])
                if len(vals) != nv:
                    raise MediaFormatError("truncated DHT")
                huff[(tc, th)] = _huff_canonical(bits, vals)
                p += 17 + nv
            if p != len(body):
                raise MediaFormatError("trailing DHT bytes")
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if frame is not None:
                raise MediaFormatError("multiple SOF frames")
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise MediaFormatError(f"{prec}-bit precision unsupported")
            if ncomp not in (1, 3):
                raise MediaFormatError(f"{ncomp}-component frame unsupported")
            if w == 0 or h == 0:
                raise MediaFormatError("zero dimension")
            if w * h > max_pixels:
                raise MediaFormatError(f"declared {w}x{h} exceeds max_pixels")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                hi, vi = hv >> 4, hv & 15
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise MediaFormatError("bad sampling factors")
                comps.append({"id": cid, "h": hi, "v": vi, "tq": tq})
            if ncomp == 1:
                # a single-component frame lays out as plain 8x8 blocks
                # regardless of its declared sampling factors (T.81 A.2.2)
                comps[0]["h"] = comps[0]["v"] = 1
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            for c in comps:
                # full interleaved block grid (incl. MCU padding); the
                # real-data sub-grid is bw x bh (non-interleaved scans).
                # int32: |coef| < 2^11 << Al(<=13) < 2^24; dequant below
                # promotes via the int64 quant table, so no overflow
                c["coef"] = np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64),
                                     np.int32)
                cw = -(-w * c["h"] // hmax)
                ch = -(-h * c["v"] // vmax)
                c["bw"] = -(-cw // 8)
                c["bh"] = -(-ch // 8)
            frame = {"w": w, "h": h, "comps": comps, "hmax": hmax,
                     "vmax": vmax, "mcus_x": mcus_x, "mcus_y": mcus_y,
                     "progressive": marker == 0xC2}
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS: decode this scan, then keep walking
            if frame is None:
                raise MediaFormatError("SOS before SOF")
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3 or not 1 <= ns <= 4:
                raise MediaFormatError("bad SOS header")
            scomps = []
            byid = {c["id"]: c for c in frame["comps"]}
            for c in range(ns):
                cs, tt = struct.unpack_from(">BB", body, 1 + 2 * c)
                if cs not in byid:
                    raise MediaFormatError(
                        f"scan names unknown component {cs}")
                scomps.append((byid[cs], tt >> 4, tt & 15))
            ss, se, ahal = struct.unpack_from(">BBB", body, 1 + 2 * ns)
            ah, al = ahal >> 4, ahal & 15
            if not frame["progressive"]:
                if (ss, se, ah, al) != (0, 63, 0, 0):
                    raise MediaFormatError(
                        "spectral selection in a sequential frame")
            else:
                if ss == 0:
                    if se != 0:
                        raise MediaFormatError(
                            "progressive DC scan with Se>0")
                elif ns != 1 or not ss <= se <= 63:
                    raise MediaFormatError("bad progressive AC band")
                if al > 13 or (ah and ah != al + 1):
                    raise MediaFormatError("bad successive approximation")
            needs_dc = ss == 0 and (not frame["progressive"] or ah == 0)
            needs_ac = (se > 0 if not frame["progressive"]
                        else ss > 0)
            for comp, td, ta in scomps:
                if needs_dc and (0, td) not in huff:
                    raise MediaFormatError("missing DC Huffman table")
                if needs_ac and (1, ta) not in huff:
                    raise MediaFormatError("missing AC Huffman table")
            segs, pos = _entropy_segments(data, pos)
            _jpeg_decode_scan(segs, scomps, frame, huff, restart,
                              ss, se, ah, al)
            scans_done += 1
    if frame is None or scans_done == 0:
        raise MediaFormatError("no SOS scan")

    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    out_planes = []
    for c in comps:
        if c["tq"] not in qt:
            raise MediaFormatError(f"missing quant table {c['tq']}")
        rows, cols = c["coef"].shape[:2]
        deq = c["coef"].reshape(-1, 64) * qt[c["tq"]][None, :]
        rm = np.empty_like(deq)
        rm[:, _ZZ] = deq                        # zigzag -> row-major
        f = np.einsum("ux,nuv,vy->nxy", _DCT_A,
                      rm.reshape(-1, 8, 8).astype(np.float64), _DCT_A)
        px = np.clip(np.round(f) + 128.0, 0, 255).astype(np.uint8)
        plane = px.reshape(rows, cols, 8, 8).transpose(0, 2, 1, 3) \
            .reshape(rows * 8, cols * 8)
        cw = -(-w * c["h"] // hmax)
        chh = -(-h * c["v"] // vmax)
        plane = plane[:chh, :cw]
        # box-replication upsample to full resolution (T.81 leaves the
        # interpolation filter to the decoder; replication is exact for
        # the flat-tile class and standard practice elsewhere)
        yi = (np.arange(h, dtype=np.int64) * c["v"]) // vmax
        xi = (np.arange(w, dtype=np.int64) * c["h"]) // hmax
        out_planes.append(plane[yi][:, xi])

    if len(out_planes) == 1:
        return out_planes[0][:, :, None]
    y = out_planes[0].astype(np.float64)
    cb = out_planes[1].astype(np.float64) - 128.0
    cr = out_planes[2].astype(np.float64) - 128.0
    # JFIF 1.02 color conversion
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _ac_refine_block(br: _BitReader, cb: np.ndarray, actab: dict,
                     ss: int, se: int, al: int, eobrun: int) -> int:
    """Progressive AC refinement for one block (T.81 G.1.2.3): add one
    precision bit to already-nonzero coefficients in the band, insert
    newly-significant +-(1<<al) coefficients. ``cb`` is the block's
    zigzag-ordered coefficient vector, mutated in place; returns the
    updated EOB run."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = br.huff(actab)
            r, s = rs >> 4, rs & 15
            newval = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.receive(r)
                    break  # the EOB-region sweep below finishes the block
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise MediaFormatError("AC refine magnitude != 1")
                newval = p1 if br.bit() else -p1
            while k <= se:
                v = int(cb[k])
                if v:
                    # correction bit for every nonzero-history coefficient
                    if br.bit() and (abs(v) & p1) == 0:
                        cb[k] = v + (p1 if v > 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                cb[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            v = int(cb[k])
            if v and br.bit() and (abs(v) & p1) == 0:
                cb[k] = v + (p1 if v > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_decode_scan(segs: list, scomps: list, frame: dict, huff: dict,
                      restart: int, ss: int, se: int, ah: int,
                      al: int) -> None:
    """Entropy-decode one scan into the components' coefficient grids.

    Handles every scan shape both frame types produce: sequential full
    blocks (interleaved MCUs or one component's own block raster),
    progressive DC first/refine (any interleave), progressive AC
    first/refine (always single-component), with restart intervals
    resetting DC predictors and the EOB run."""
    progressive = frame["progressive"]
    interleaved = len(scomps) > 1
    if interleaved:
        n_units = frame["mcus_x"] * frame["mcus_y"]
    else:
        c0 = scomps[0][0]
        n_units = c0["bw"] * c0["bh"]
    preds = {c["id"]: 0 for c, _, _ in scomps}
    eobrun = 0
    seg_i = 0
    br = _BitReader(segs[0])
    for m in range(n_units):
        if restart and m and m % restart == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise MediaFormatError("missing restart segment")
            br = _BitReader(segs[seg_i])
            preds = {c["id"]: 0 for c, _, _ in scomps}
            eobrun = 0
        for comp, td, ta in scomps:
            if interleaved:
                mx, my = m % frame["mcus_x"], m // frame["mcus_x"]
                blocks = [(my * comp["v"] + by, mx * comp["h"] + bx)
                          for by in range(comp["v"])
                          for bx in range(comp["h"])]
            else:
                blocks = [(m // comp["bw"], m % comp["bw"])]
            coef = comp["coef"]
            for row, col in blocks:
                cb = coef[row, col]
                if not progressive:
                    t = br.huff(huff[(0, td)])
                    if t > 11:
                        raise MediaFormatError("DC category out of range")
                    preds[comp["id"]] += _extend(br.receive(t), t)
                    cb[0] = preds[comp["id"]]
                    actab = huff[(1, ta)]
                    k = 1
                    while k < 64:
                        rs = br.huff(actab)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise MediaFormatError("AC run past block end")
                        cb[k] = _extend(br.receive(s), s)
                        k += 1
                elif ss == 0 and ah == 0:       # DC first
                    t = br.huff(huff[(0, td)])
                    if t > 11:
                        raise MediaFormatError("DC category out of range")
                    preds[comp["id"]] += _extend(br.receive(t), t)
                    cb[0] = preds[comp["id"]] << al
                elif ss == 0:                   # DC refine: one raw bit
                    if br.bit():
                        cb[0] = int(cb[0]) | (1 << al)
                elif ah == 0:                   # AC first (band Ss..Se)
                    if eobrun:
                        eobrun -= 1
                        continue
                    actab = huff[(1, ta)]
                    k = ss
                    while k <= se:
                        rs = br.huff(actab)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.receive(r)
                            break  # EOB run: this block is done
                        k += r
                        if k > se:
                            raise MediaFormatError("AC run past band end")
                        cb[k] = _extend(br.receive(s), s) << al
                        k += 1
                else:                           # AC refine
                    eobrun = _ac_refine_block(br, cb, huff[(1, ta)],
                                              ss, se, al, eobrun)


# ---- encoder ------------------------------------------------------------

class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self):
        """Pad the final byte with 1-bits (T.81 F.1.2.3)."""
        while self.n:
            self.write(1, 1)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _build_huff_table(freqs: dict) -> tuple[list, list]:
    """(bits[16], vals) for the symbol frequencies: ordinary Huffman via
    heapq, canonicalized (sorted by length then symbol). The code space
    is kept incomplete (Kraft sum < 1) so no code is all 1-bits, per the
    T.81 convention that keeps pad bits undecodable."""
    import heapq

    if not freqs:
        raise MediaFormatError("empty Huffman alphabet")
    if len(freqs) == 1:
        sym = next(iter(freqs))
        return [1] + [0] * 15, [sym]
    heap = [(n, sym, (sym,)) for sym, n in freqs.items()]
    heapq.heapify(heap)
    depth = {s: 0 for s in freqs}
    while len(heap) > 1:
        n1, s1, g1 = heapq.heappop(heap)
        n2, s2, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (n1 + n2, min(s1, s2), g1 + g2))
    if max(depth.values()) > 15:
        raise MediaFormatError("Huffman depth >15 (alphabet too skewed)")
    # incomplete-code-space guard: if the tree is complete (it always is
    # for >1 symbols), lengthen ONE deepest symbol by a bit — Kraft sum
    # drops below 1 and the all-ones code at every length stays unused
    deepest = max(depth, key=lambda s: (depth[s], s))
    depth[deepest] += 1
    bits = [0] * 16
    for s in depth:
        bits[depth[s] - 1] += 1
    vals = sorted(depth, key=lambda s: (depth[s], s))
    return bits, vals


def _encode_plane_blocks(plane: np.ndarray, qtab: np.ndarray,
                         pad_h: int, pad_w: int) -> np.ndarray:
    """Pad (edge-replicate) to (pad_h, pad_w), FDCT every 8x8 block,
    quantize -> (rows, cols, 64) int zigzag coefficients."""
    h, w = plane.shape
    p = np.empty((pad_h, pad_w), np.float64)
    p[:h, :w] = plane
    p[h:, :w] = plane[-1:, :]
    p[:h, w:] = plane[:, -1:]
    p[h:, w:] = plane[-1, -1]
    p -= 128.0
    rows, cols = pad_h // 8, pad_w // 8
    blk = p.reshape(rows, 8, cols, 8).transpose(0, 2, 1, 3)
    f = np.einsum("ux,rcxy,vy->rcuv", _DCT_A, blk, _DCT_A)
    q = np.round(f.reshape(rows, cols, 64)[..., _ZZ]
                 / qtab[None, None, :]).astype(np.int64)
    return q


def encode_jpeg(y: np.ndarray, cb: np.ndarray = None, cr: np.ndarray = None,
                sampling: tuple = (2, 2), qt_luma: np.ndarray = None,
                qt_chroma: np.ndarray = None,
                restart_interval: int = 0) -> bytes:
    """Baseline JFIF encoder from PLANES (not RGB): ``y`` is the full-res
    luma (h, w) uint8; ``cb``/``cr`` (optional, both or neither) are
    ALREADY-SUBSAMPLED chroma planes of shape
    (ceil(h/sampling[1]), ceil(w/sampling[0])). Taking planes keeps the
    encoder exact: the caller controls the YCbCr values bit-for-bit, so a
    flat-tile fixture round-trips losslessly (fixtures compute golden RGB
    from these planes with the same JFIF formulas the decoder uses).
    Quant tables are zigzag-order int arrays (64,); defaults are flat 8s
    (DC step 8 makes flat-tile DC coding exact for every uint8 level).
    Huffman tables are built canonically from the actual symbol stream
    and embedded in DHT segments — any conforming decoder reads them."""
    y = np.asarray(y, np.uint8)
    h, w = y.shape
    qt_l = (np.full(64, 8, np.int64) if qt_luma is None
            else np.asarray(qt_luma, np.int64))
    qt_c = (np.full(64, 8, np.int64) if qt_chroma is None
            else np.asarray(qt_chroma, np.int64))
    color = cb is not None
    sh, sv = (sampling if color else (1, 1))
    mcus_x = -(-w // (8 * sh))
    mcus_y = -(-h // (8 * sv))
    yq = _encode_plane_blocks(y, qt_l, mcus_y * sv * 8, mcus_x * sh * 8)
    planes = [("y", yq, sh, sv, 0)]
    if color:
        cb = np.asarray(cb, np.uint8)
        cr = np.asarray(cr, np.uint8)
        exp = (-(-h // sv), -(-w // sh))
        if cb.shape != exp or cr.shape != exp:
            raise ValueError(f"chroma planes must be {exp}, got {cb.shape}")
        cbq = _encode_plane_blocks(cb, qt_c, mcus_y * 8, mcus_x * 8)
        crq = _encode_plane_blocks(cr, qt_c, mcus_y * 8, mcus_x * 8)
        planes += [("cb", cbq, 1, 1, 1), ("cr", crq, 1, 1, 1)]

    # ---- pass 1: symbol stream in MCU order ----
    # tokens: (table_kind, table_id, symbol, extra_bits_value, extra_len)
    tokens = []
    preds = {name: 0 for name, *_ in planes}

    def code_block(name, tid, coef):
        diff = int(coef[0]) - preds[name]
        preds[name] = int(coef[0])
        t = _category(diff)
        extra = diff if diff >= 0 else diff + (1 << t) - 1
        tokens.append(("dc", tid, t, extra, t))
        run = 0
        nz = np.nonzero(coef[1:])[0]
        last = (nz[-1] + 1) if len(nz) else 0
        for k in range(1, last + 1):
            v = int(coef[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                tokens.append(("ac", tid, 0xF0, 0, 0))  # ZRL
                run -= 16
            s = _category(v)
            extra = v if v >= 0 else v + (1 << s) - 1
            tokens.append(("ac", tid, (run << 4) | s, extra, s))
            run = 0
        if last < 63:
            tokens.append(("ac", tid, 0x00, 0, 0))  # EOB

    mcu_bounds = [len(tokens)]
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            preds = {name: 0 for name, *_ in planes}
            mcu_bounds.append(len(tokens))  # restart boundary marker
        my, mx = divmod(m, mcus_x)
        for name, q, ph, pv, tid in planes:
            for v in range(pv):
                for hh in range(ph):
                    code_block(name, tid, q[my * pv + v, mx * ph + hh])
    mcu_bounds.append(len(tokens))

    # ---- build Huffman tables from actual frequencies ----
    tables = {}
    for kind in ("dc", "ac"):
        for tid in {tok[1] for tok in tokens if tok[0] == kind}:
            freqs = {}
            for k, t, sym, _, _ in tokens:
                if k == kind and t == tid:
                    freqs[sym] = freqs.get(sym, 0) + 1
            tables[(kind, tid)] = _build_huff_table(freqs)

    codes = {key: {sym: (code, ln)
                   for (ln, code), sym in _huff_canonical(*tbl).items()}
             for key, tbl in tables.items()}
    # invert: _huff_canonical maps (len, code)->sym; flip to sym->(code, len)

    # ---- pass 2: emit ----
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = bytes([0x00]) + bytes(int(x) for x in qt_l)
    if color:
        dqt += bytes([0x01]) + bytes(int(x) for x in qt_c)
    out += seg(0xDB, dqt)
    sof = struct.pack(">BHHB", 8, h, w, 3 if color else 1)
    sof += struct.pack(">BBB", 1, (sh << 4) | sv, 0)
    if color:
        sof += struct.pack(">BBB", 2, 0x11, 1)
        sof += struct.pack(">BBB", 3, 0x11, 1)
    out += seg(0xC0, sof)
    dht = b""
    for (kind, tid), (bits, vals) in sorted(tables.items()):
        tc = 0 if kind == "dc" else 1
        dht += bytes([(tc << 4) | tid]) + bytes(bits) + bytes(vals)
    out += seg(0xC4, dht)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([3 if color else 1])
    sos += struct.pack(">BB", 1, 0x00)
    if color:
        sos += struct.pack(">BB", 2, 0x11)
        sos += struct.pack(">BB", 3, 0x11)
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    for si in range(len(mcu_bounds) - 1):
        if si:
            out += bytes([0xFF, 0xD0 + ((si - 1) % 8)])
        bw = _BitWriter()
        for tok in tokens[mcu_bounds[si]:mcu_bounds[si + 1]]:
            kind, tid, sym, extra, elen = tok
            code, ln = codes[(kind, tid)][sym]
            bw.write(code, ln)
            if elen:
                bw.write(extra, elen)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------------------
# GIF (87a / 89a)
# --------------------------------------------------------------------------

GIF_SIGS = (b"GIF87a", b"GIF89a")

# GIF row-interlace passes: (first_row, row_step), spec appendix E order.
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_header(data: bytes) -> tuple[int, int]:
    """(width, height) from the logical screen descriptor — header-only,
    no LZW work (the cheap metadata path)."""
    data = bytes(data)
    if data[:6] not in GIF_SIGS or len(data) < 13:
        raise MediaFormatError("not a GIF")
    w, h = struct.unpack_from("<HH", data, 6)
    if w == 0 or h == 0:
        raise MediaFormatError("zero dimension")
    return w, h


def _gif_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate the length-prefixed sub-blocks starting at ``pos``
    through their 0-length terminator; returns (payload, next_pos)."""
    chunks = []
    while True:
        if pos >= len(data):
            raise MediaFormatError("truncated GIF sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(data):
            raise MediaFormatError("truncated GIF sub-block")
        chunks.append(data[pos:pos + n])
        pos += n


def _lzw_decode(data: bytes, min_code_size: int, max_out: int) -> np.ndarray:
    """GIF LZW (variable-width codes, LSB-first bit packing) -> uint8
    color-index array of exactly ``max_out`` elements.

    Mirrors the spec's decoder: root table of 2^mcs single-index codes
    plus CLEAR/EOI, code width starts at mcs+1 and bumps when the table
    fills its width (cap 12 bits / 4096 entries, then no growth until a
    CLEAR). Raises if the stream ends before ``max_out`` indices."""
    if not 2 <= min_code_size <= 8:
        raise MediaFormatError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end_code = clear + 1
    width = min_code_size + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    out: list = []
    total = 0
    prev: bytes | None = None
    bitpos = 0
    nbits = len(data) * 8
    while total < max_out:
        if bitpos + width > nbits:
            raise MediaFormatError("LZW stream ends before frame is full")
        b0 = bitpos >> 3
        code = (int.from_bytes(data[b0:b0 + 3], "little")
                >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(roots)
            width = min_code_size + 1
            prev = None
            continue
        if code == end_code:
            raise MediaFormatError("LZW EOI before frame is full")
        if prev is None:
            if code >= clear:
                raise MediaFormatError("bad first LZW code after clear")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise MediaFormatError("LZW code out of range")
        if len(table) == (1 << width) and width < 12:
            width += 1
        out.append(entry)
        total += len(entry)
        prev = entry
    return np.frombuffer(b"".join(out), np.uint8)[:max_out]


@_format_errors
def decode_gif(data: bytes, max_pixels: int = MAX_PIXELS) -> np.ndarray:
    """First frame of a GIF87a/89a -> (h, w, 3) uint8, or (h, w, 4) when
    a Graphic Control Extension marks a transparent index (those pixels
    get alpha 0). Animated GIFs decode their FIRST image descriptor only;
    a frame smaller than the logical screen composites onto a canvas
    filled with the background color. Interlaced frames deinterlace per
    the spec's 4-pass row order."""
    data = bytes(data)
    w, h = gif_header(data)
    if w * h > max_pixels:
        raise MediaFormatError(f"declared {w}x{h} exceeds max_pixels")
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(data):
            raise MediaFormatError("truncated global color table")
        gct = np.frombuffer(data[pos:pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    transparent = None
    while pos < len(data):
        block = data[pos]
        if block == 0x21:  # extension
            if pos + 2 > len(data):
                raise MediaFormatError("truncated GIF extension")
            label = data[pos + 1]
            body, pos = _gif_subblocks(data, pos + 2)
            if label == 0xF9 and len(body) >= 4:  # Graphic Control Ext
                transparent = body[3] if body[0] & 1 else None
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                raise MediaFormatError("truncated image descriptor")
            ix, iy, iw, ih, ipacked = struct.unpack_from("<HHHHB",
                                                         data, pos + 1)
            pos += 10
            ct = gct
            if ipacked & 0x80:  # local color table wins
                n = 2 << (ipacked & 7)
                if pos + 3 * n > len(data):
                    raise MediaFormatError("truncated local color table")
                ct = np.frombuffer(data[pos:pos + 3 * n],
                                   np.uint8).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise MediaFormatError("GIF frame without any color table")
            if iw == 0 or ih == 0 or ix + iw > w or iy + ih > h:
                raise MediaFormatError("frame exceeds logical screen")
            if pos >= len(data):
                raise MediaFormatError("missing LZW min code size")
            mcs = data[pos]
            lzw, pos = _gif_subblocks(data, pos + 1)
            idx = _lzw_decode(lzw, mcs, iw * ih)
            if int(idx.max()) >= ct.shape[0]:
                raise MediaFormatError("color index out of range")
            rows = idx.reshape(ih, iw)
            if ipacked & 0x40:  # interlaced: rows arrive pass-ordered
                grid = np.empty((ih, iw), np.uint8)
                r = 0
                for start, step in _GIF_INTERLACE:
                    nrows = len(range(start, ih, step))
                    grid[start::step] = rows[r:r + nrows]
                    r += nrows
            else:
                grid = rows
            rgb = ct[grid]
            if ix == 0 and iy == 0 and iw == w and ih == h:
                out = rgb
                tmask = grid == transparent if transparent is not None \
                    else None
            else:
                bg_idx = data[11]
                bg = (gct[bg_idx] if gct is not None
                      and bg_idx < gct.shape[0] else np.zeros(3, np.uint8))
                out = np.broadcast_to(bg, (h, w, 3)).copy()
                out[iy:iy + ih, ix:ix + iw] = rgb
                if transparent is not None:
                    tmask = np.zeros((h, w), bool)
                    tmask[iy:iy + ih, ix:ix + iw] = grid == transparent
                else:
                    tmask = None
            if tmask is None:
                return out
            alpha = np.where(tmask, 0, 255).astype(np.uint8)
            return np.dstack([out, alpha])
        elif block == 0x3B:  # trailer
            break
        else:
            raise MediaFormatError(f"unknown GIF block 0x{block:02x}")
    raise MediaFormatError("GIF contains no image data")


# --------------------------------------------------------------------------
# AVI (RIFF container, MJPEG video)
# --------------------------------------------------------------------------
# The video modality: an AVI is a RIFF tree ('LIST hdrl' with the main
# header + one stream-list per stream, 'LIST movi' with the frame
# chunks). With the MJPG handler every video frame chunk is a complete
# baseline JFIF image, so the JPEG decoder above turns container parsing
# into real frame decode — no new entropy coder needed. Public layout:
# Microsoft "AVI RIFF File Reference" (msdn) / OpenDML AVI spec.


def _riff_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) across one RIFF chunk run.
    Bodies are word-aligned; a length that overruns ``end`` is clamped
    (truncated files still surface whatever frames they carry)."""
    while pos + 8 <= end:
        cid = data[pos:pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        yield cid, body, min(ln, end - body)
        pos = body + ln + (ln & 1)


@_format_errors
def parse_avi(data: bytes) -> dict:
    """AVI header walk -> {width, height, n_frames, us_per_frame,
    duration_ms, handler}. Header-only (LIST hdrl); the movi payload is
    never touched, so meta stays O(header) however large the video."""
    data = bytes(data)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise MediaFormatError("not a RIFF/AVI file")
    avih = None
    handler = None
    for cid, body, ln in _riff_chunks(data, 12, len(data)):
        if cid != b"LIST" or data[body:body + 4] != b"hdrl":
            continue
        for c2, b2, l2 in _riff_chunks(data, body + 4, body + ln):
            if c2 == b"avih" and l2 >= 40:
                avih = struct.unpack_from("<10I", data, b2)
            elif (c2 == b"LIST" and data[b2:b2 + 4] == b"strl"
                    and handler is None):
                for c3, b3, l3 in _riff_chunks(data, b2 + 4, b2 + l2):
                    if (c3 == b"strh" and l3 >= 8
                            and data[b3:b3 + 4] == b"vids"):
                        handler = data[b3 + 4:b3 + 8].decode(
                            "ascii", "replace").strip("\x00 ")
        break
    if avih is None:
        raise MediaFormatError("missing avih main header")
    us_per_frame, _, _, _, total, _, _, _, w, h = avih
    if w <= 0 or h <= 0:
        raise MediaFormatError(f"bad AVI dimensions {w}x{h}")
    return {
        "width": w, "height": h, "n_frames": total,
        "us_per_frame": us_per_frame, "handler": handler,
        "duration_ms": total * us_per_frame // 1000,
    }


def _sample_indices(total: int, n: int) -> list[int]:
    """<=n evenly spaced indices over range(total) — the shared video/
    audio-frame resampling rule (transcribed by the fixture goldens)."""
    if total <= n:
        return list(range(total))
    return [j * total // n for j in range(n)]


def _avi_vids_stream(data: bytes) -> int:
    """Stream id of the first 'vids' stream. AVI stream ids number the
    'strl' lists in hdrl order; a headerless/truncated file defaults to
    0. Chunk fourccs encode the id as TWO DECIMAL digits ('00dc'..'99dc'
    — the ffmpeg avidec.c convention), so ids are 0..99."""
    for cid, body, ln in _riff_chunks(data, 12, len(data)):
        if cid != b"LIST" or data[body:body + 4] != b"hdrl":
            continue
        idx = 0
        for c2, b2, l2 in _riff_chunks(data, body + 4, body + ln):
            if c2 == b"LIST" and data[b2:b2 + 4] == b"strl":
                for c3, b3, l3 in _riff_chunks(data, b2 + 4, b2 + l2):
                    if c3 == b"strh" and l3 >= 4:
                        if data[b3:b3 + 4] == b"vids":
                            return idx
                        break
                idx += 1
        break
    return 0


def avi_frames(data: bytes, n: int) -> list[bytes]:
    """<=n evenly sampled VIDEO frame chunks ('##dc'/'##db' of the first
    'vids' stream only — an interleaved second stream's chunks would
    corrupt the sampled timeline; 'rec ' sub-lists included) from the
    movi list. With the MJPG handler each returned frame is a standalone
    baseline JPEG, decodable by ``decode_jpeg``. Byte-exact chunk bodies
    — no re-encode."""
    _check_n_frames(n)
    return _avi_frames(data, n)


@_format_errors
def _avi_frames(data: bytes, n: int) -> list[bytes]:
    data = bytes(data)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise MediaFormatError("not a RIFF/AVI file")
    sid = _avi_vids_stream(data)

    def is_frame(cid: bytes) -> bool:
        return (cid[:2].isdigit() and int(cid[:2]) == sid
                and cid[2:4] in (b"dc", b"db"))

    spans = []
    for cid, body, ln in _riff_chunks(data, 12, len(data)):
        if cid != b"LIST" or data[body:body + 4] != b"movi":
            continue
        for c2, b2, l2 in _riff_chunks(data, body + 4, body + ln):
            if is_frame(c2):
                spans.append((b2, l2))
            elif c2 == b"LIST" and data[b2:b2 + 4] == b"rec ":
                spans.extend((b3, l3) for c3, b3, l3 in
                             _riff_chunks(data, b2 + 4, b2 + l2)
                             if is_frame(c3))
        break
    if not spans:
        raise MediaFormatError("AVI contains no video frame chunks")
    return [data[a:a + ln] for a, ln in
            (spans[i] for i in _sample_indices(len(spans), n))]


# --------------------------------------------------------------------------
# MP3 (MPEG-1/2/2.5 audio, Layer III frame walk)
# --------------------------------------------------------------------------
# Metadata layer only: the frame HEADERS fully determine sample-accurate
# duration (each Layer III frame carries a fixed sample count at a
# header-declared rate), so duration/bitrate/channel metadata needs no
# subband synthesis. Full PCM decode (Huffman + IMDCT + polyphase
# filterbank) is out of scope — features fall back to the byte
# histogram, which the operator layer documents. Public layout: ISO/IEC
# 11172-3 / 13818-3 frame header.

# sample rates by (version_bits) -> [sr_idx 0..2]; version bits: 0=MPEG2.5,
# 2=MPEG2, 3=MPEG1 (1 is reserved)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}
# Layer III bitrates (kbps), index 1..14; 0 is "free" (unsupported), 15 bad
_MP3_KBPS_V1 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                160, 192, 224, 256, 320)
_MP3_KBPS_V2 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
                96, 112, 128, 144, 160)


def _mp3_frame_header(data: bytes, pos: int):
    """Validate 4 header bytes at pos -> (frame_len, n_samples,
    sample_rate, channels, kbps) or None if not a Layer III sync."""
    if pos + 4 > len(data):
        return None
    b1, b2, b3 = data[pos], data[pos + 1], data[pos + 2]
    if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
        return None
    version = (b2 >> 3) & 3
    layer = (b2 >> 1) & 3
    if version == 1 or layer != 1:      # reserved version / not Layer III
        return None
    br_idx = (b3 >> 4) & 15
    sr_idx = (b3 >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:  # free-format / invalid
        return None
    sr = _MP3_RATES[version][sr_idx]
    kbps = (_MP3_KBPS_V1 if version == 3 else _MP3_KBPS_V2)[br_idx]
    n_samples = 1152 if version == 3 else 576
    # frame bytes = samples/8 * bitrate / rate + padding (T slot = 1 byte)
    frame_len = n_samples // 8 * kbps * 1000 // sr + ((b3 >> 1) & 1)
    channels = 1 if ((data[pos + 3] >> 6) & 3) == 3 else 2
    return frame_len, n_samples, sr, channels, kbps


@_format_errors
def parse_mp3(data: bytes) -> dict:
    """MPEG Layer III frame-header walk -> {n_frames, sample_rate,
    channels, kbps (first frame), duration_ms}. Skips a leading ID3v2
    tag and a trailing ID3v1 'TAG' block; the walk ends cleanly at the
    first non-frame byte (truncated tails are the web norm), but zero
    decodable frames is an error. Header arithmetic only — sample data
    is never touched."""
    data = bytes(data)
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        sz = ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
              | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
        pos = 10 + sz + (10 if data[5] & 0x10 else 0)  # + optional footer
    frames = []
    samples_by_rate: dict[int, int] = {}
    first = None
    while True:
        hdr = _mp3_frame_header(data, pos)
        if hdr is None:
            break
        frame_len, n_samples, sr, channels, kbps = hdr
        if pos + frame_len > len(data):
            break                        # truncated final frame: drop it
        frames.append((pos, frame_len))
        samples_by_rate[sr] = samples_by_rate.get(sr, 0) + n_samples
        if first is None:
            first = (sr, channels, kbps)
        pos += frame_len
    if not frames:
        raise MediaFormatError("no MPEG Layer III frames found")
    sr, channels, kbps = first
    return {
        "n_frames": len(frames), "sample_rate": sr, "channels": channels,
        "kbps": kbps, "frame_spans": frames,
        "duration_ms": sum(s * 1000 // r
                           for r, s in samples_by_rate.items()),
    }


def mp3_frames(data: bytes, n: int) -> list[bytes]:
    """<=n evenly sampled raw MPEG frames (header + payload, each a
    self-delimiting unit) — same resampling rule as ``avi_frames``."""
    _check_n_frames(n)
    return _mp3_frames(data, n)


@_format_errors
def _mp3_frames(data: bytes, n: int) -> list[bytes]:
    spans = parse_mp3(data)["frame_spans"]
    data = bytes(data)
    return [data[a:a + ln] for a, ln in
            (spans[i] for i in _sample_indices(len(spans), n))]


# --------------------------------------------------------------------------
# Sniffing + the operator-facing decode hooks
# --------------------------------------------------------------------------

def sniff(data: bytes) -> str | None:
    """'jpeg' | 'bmp' | 'png' | 'gif' | 'wav' | 'avi' | 'mp3' | None by
    magic bytes (MP3 additionally requires a valid Layer III frame
    header when there is no ID3 tag — a lone 0xFF byte is not a
    claim)."""
    if data is None:
        return None
    head = bytes(data[:12])
    if head.startswith(PNG_SIG):
        return "png"
    if head.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if head[:6] in GIF_SIGS:
        return "gif"
    if head.startswith(b"BM") and len(data) >= 54:
        return "bmp"
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        return "wav"
    if head[:4] == b"RIFF" and head[8:12] == b"AVI ":
        return "avi"
    if head[:3] == b"ID3" or _mp3_frame_header(bytes(data[:4]), 0):
        return "mp3"
    return None


def decode_image(data: bytes) -> np.ndarray:
    """Decode whichever image format the magic bytes claim."""
    kind = sniff(data)
    if kind == "png":
        return decode_png(data)
    if kind == "jpeg":
        return decode_jpeg(data)
    if kind == "gif":
        return decode_gif(data)
    if kind == "bmp":
        return decode_bmp(data)
    raise MediaFormatError("not a decodable image payload")


def decode_media_meta(payload: bytes, strict: bool = False) -> dict:
    """The default ``decode_fn`` for ``with_media_meta``: REAL metadata
    from real decoders. Images report (width, height); audio reports
    duration_ms; anything unrecognized — or recognized-but-corrupt when
    ``strict`` is False — classifies as plain 'binary' with only
    n_bytes. ``strict=True`` raises MediaFormatError on corrupt payloads
    instead of downgrading them (quarantine-vs-continue is the caller's
    pipeline policy, not the decoder's)."""
    if payload is None:
        return {"media_type": None, "n_bytes": 0, "width": None,
                "height": None, "duration_ms": None}
    n = len(payload)
    base = {"media_type": "binary", "n_bytes": n, "width": None,
            "height": None, "duration_ms": None}
    kind = sniff(payload)
    try:
        if kind == "png":
            w, h, _, _ = png_ihdr(payload)
            return {**base, "media_type": "image", "width": w, "height": h}
        if kind == "jpeg":
            w, h, _ = jpeg_header(payload)  # header walk, no entropy decode
            return {**base, "media_type": "image", "width": w, "height": h}
        if kind == "gif":
            w, h = gif_header(payload)  # header-only, no LZW decode
            return {**base, "media_type": "image", "width": w, "height": h}
        if kind == "bmp":
            w, h, _, _, _ = bmp_header(payload)  # header-only, no pixels
            return {**base, "media_type": "image", "width": w, "height": h}
        if kind == "wav":
            return {**base, "media_type": "audio",
                    "duration_ms": parse_wav(payload)["duration_ms"]}
        if kind == "avi":
            info = parse_avi(payload)  # header-only, movi never scanned
            return {**base, "media_type": "video",
                    "width": info["width"], "height": info["height"],
                    "duration_ms": info["duration_ms"]}
        if kind == "mp3":
            return {**base, "media_type": "audio",
                    "duration_ms": parse_mp3(payload)["duration_ms"]}
    except MediaFormatError:
        if strict:
            raise
    return base


def media_features(payload: bytes, dim: int = 16) -> np.ndarray:
    """The default ``feature_fn`` for ``extract_features``: a REAL
    content-level histogram per modality, normalized to sum 1.

    * image  — integer-luma histogram over DECODED pixels
               (luma = (299R + 587G + 114B) // 1000; exact integer, so
               goldens computed from source arrays match bit-for-bit)
    * video  — the same luma histogram over the FIRST sampled frame of
               an MJPEG AVI (container parse + real JPEG decode)
    * audio  — int16 amplitude histogram over decoded PCM samples (WAV;
               MP3 has no PCM decoder — byte fallback, meta stays real)
    * other  — raw byte-value histogram (content sketch of last resort)
    """
    if payload is None or len(payload) == 0:
        return np.zeros(dim)
    kind = sniff(payload)
    try:
        if kind in ("png", "bmp", "jpeg", "gif", "avi"):
            # video: the FIRST sampled frame's pixels feed the same luma
            # rule as still images
            arr = (decode_jpeg(avi_frames(payload, 1)[0]) if kind == "avi"
                   else decode_image(payload)).astype(np.int64)
            if arr.shape[2] >= 3:
                luma = (299 * arr[..., 0] + 587 * arr[..., 1]
                        + 114 * arr[..., 2]) // 1000
            else:
                luma = arr[..., 0]
            hist, _ = np.histogram(luma, bins=dim, range=(0, 256))
        elif kind == "wav":
            pcm, _ = decode_wav(payload)
            hist, _ = np.histogram(pcm, bins=dim, range=(-32768, 32768))
        else:
            raise MediaFormatError("fall through to byte histogram")
    except MediaFormatError:
        arr = np.frombuffer(bytes(payload), dtype=np.uint8)
        hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
    s = hist.sum()
    return hist / s if s else hist.astype(float)


def resize_image_payload(payload: bytes, width: int, height: int) -> bytes:
    """The default ``resize_fn`` for ``resize_media``: decode (any
    sniffable image format), nearest-neighbor resample, re-encode as
    24-bit BMP (the deterministic, compression-free output container)."""
    arr = decode_image(payload)
    src_h, src_w = arr.shape[:2]
    yi = (np.arange(height, dtype=np.int64) * src_h) // height
    xi = (np.arange(width, dtype=np.int64) * src_w) // width
    return encode_bmp(arr[yi][:, xi])
