"""Real media decoders from the standard library (no external codecs).

No Pillow/libsndfile is assumed, but these formats are fully decodable
with stdlib alone, which makes the multimodal plumbing REAL for them
instead of stubbed:

* **PNG** — chunk parse + zlib inflate + per-scanline unfiltering
  (filters 0-4 per the PNG spec: None, Sub, Up, Average, Paeth), for
  8- and 16-bit greyscale / grey+alpha / RGB / RGBA (16-bit samples
  scale by MSB take) and palette (colortype 3, bit depths 1/2/4/8 via
  PLTE lookup), non-interlaced AND Adam7
  interlaced (7 independently-filtered reduced images scattered onto
  the full grid).  Output is
  a (H, W) uint8 luminance array computed with the reference's exact
  fixed-point form (reference ``color.h:90-116`` RGB2Gray builds a
  Q14 LUT from the BT.601 coefficients R2Y=4899 G2Y=9617 B2Y=1868 with
  rounding constant 1<<13; RGB2gray sums and shifts right 14) — so the
  cvtColor(→GRAY) analog is bit-identical, not merely same-weights.
* **WAV** — stdlib ``wave`` for framing, numpy for PCM conversion
  (8/16/32-bit), channel-averaged to mono float32 in [-1, 1].

* **GIF (87a/89a)** — LZW decode (variable-width codes, CLEAR/END,
  the KwKwK rule), global/local palettes, first frame (interlaced rows
  reordered), through the same Q14 grey form.

* **MP4 (ISO BMFF)** — box-structure probe: the video trak's ``stts``
  sample census + ``mdhd`` timescale give (n_frames, fps) without
  decoding any sample data (the only facts frame sampling needs).

JPEG has no decoder here: it falls back to Pillow when importable, else
to the declared deterministic stub in operators/multimodal.py — and the
multimodal schemas carry a ``decoded_real`` provenance flag so fallback
rows are distinguishable.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype -> samples per pixel


class UnsupportedMedia(ValueError):
    """Payload is syntactically valid but outside the decoder's subset."""


MAX_PIXELS = 64 << 20  # decode-bomb guard: 64M pixels (~256MB of float64)


def _q14_gray(r, g, b):
    """The reference's exact RGB2gray fixed-point form (color.h:110-116):
    Q14 BT.601 LUT sum, rounding constant 1<<13, >> 14.  ONE definition
    — PNG and GIF luminance must never diverge."""
    return ((4899 * r + 9617 * g + 1868 * b + (1 << 13)) >> 14) \
        .astype(np.uint8)


def _check_dims(width: int, height: int) -> None:
    """Reject absurd dimensions BEFORE allocating planes — a corrupt or
    adversarial header (e.g. a bit-flipped IHDR claiming 65535x65535)
    must raise, not allocate tens of GB (caught by the fuzz suite)."""
    if width <= 0 or height <= 0 or width * height > MAX_PIXELS:
        raise UnsupportedMedia(f"implausible dimensions {width}x{height}")


#: Adam7 pass grid: (x_start, y_start, x_step, y_step) per PNG spec §8.2.
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _unfilter(raw: bytes, off: int, height: int, stride: int,
              bpp: int) -> np.ndarray:
    """Reverse PNG scanline filters 0-4 over `height` rows of `stride`
    bytes starting at byte `off` (each row prefixed by its filter type).
    `bpp` is the filter's left-neighbor distance in bytes."""
    img = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        row_off = off + y * (stride + 1)
        ftype = raw[row_off]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_off + 1
        ).astype(np.int32)
        if ftype == 0:                       # None
            recon = line
        elif ftype == 2:                     # Up
            recon = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):             # Sub / Average / Paeth
            recon = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = recon[x - bpp] if x >= bpp else 0         # left
                b = prev[x]                                   # up
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = prev[x - bpp] if x >= bpp else 0      # up-left
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else \
                        (b if pb <= pc else c)
                recon[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        img[y] = recon
        prev = recon
    return img


def _row_indices(img: np.ndarray, width: int, bitdepth: int) -> np.ndarray:
    """Palette scanline bytes -> (H, width) int32 palette indices."""
    height = img.shape[0]
    if bitdepth == 8:
        return img[:, :width].astype(np.int32)
    bits = np.unpackbits(img, axis=1)[:, :width * bitdepth]
    weights = 1 << np.arange(bitdepth - 1, -1, -1)
    return bits.reshape(height, width, bitdepth).dot(weights) \
        .astype(np.int32)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (H, W) uint8 luminance. Raises UnsupportedMedia for
    subsets not implemented (sub-byte non-palette grey), ValueError for
    malformed data.  Palette images (colortype 3, depths 1/2/4/8)
    decode via PLTE lookup through the same Q14 grey form; 16-bit
    non-palette forms decode via MSB sample scaling.  Adam7
    interlacing is supported for every supported color form: the IDAT
    stream holds 7 independently-filtered reduced images whose pixels
    scatter onto the full grid at (x0 + j*dx, y0 + i*dy)."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if len(data) % 3 or not data:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("missing IHDR")
    width, height, bitdepth, colortype, comp, filt, interlace = ihdr
    _check_dims(width, height)
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if colortype == 3:
        if bitdepth not in (1, 2, 4, 8):
            raise UnsupportedMedia(
                f"PNG palette subset not implemented: depth={bitdepth}")
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        ch = 1
        bits_pp = bitdepth
        fbpp = 1  # filters operate on bytes; 1 byte for depth <= 8
    elif bitdepth not in (8, 16) or colortype not in _CHANNELS:
        raise UnsupportedMedia(
            f"PNG subset not implemented: depth={bitdepth} "
            f"color={colortype}")
    else:
        ch = _CHANNELS[colortype]
        bits_pp = bitdepth * ch
        # PNG filters predict at a distance of one whole pixel in BYTES:
        # 16-bit samples double it (spec §9.2 "bpp")
        fbpp = ch * (bitdepth // 8)
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    dims = []                       # (x0, y0, dx, dy, pw, ph, stride)
    expect = 0
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx if width > x0 else 0
        ph = (height - y0 + dy - 1) // dy if height > y0 else 0
        if pw and ph:
            stride = (pw * bits_pp + 7) // 8
            dims.append((x0, y0, dx, dy, pw, ph, stride))
            expect += ph * (stride + 1)
    # bounded inflate: a zlib bomb cannot expand past the declared size
    raw = zlib.decompressobj().decompress(bytes(idat), expect + 1)
    if len(raw) != expect:
        raise ValueError("PNG data size mismatch")
    if colortype == 3:
        full_idx = np.zeros((height, width), dtype=np.int32)
    else:
        full_px = np.zeros((height, width, ch), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph, stride in dims:
        img = _unfilter(raw, off, ph, stride, fbpp)
        off += ph * (stride + 1)
        if colortype == 3:
            full_idx[y0::dy, x0::dx] = _row_indices(img, pw, bitdepth)
        elif bitdepth == 16:
            # big-endian 16-bit samples scale to 8 bits by taking the
            # most-significant byte (the spec's sample-depth scaling
            # v*255/65535 rounds to v>>8 within one LSB; MSB-take is
            # the convention 8-bit consumers use), then ride the same
            # Q14 path as every other form
            full_px[y0::dy, x0::dx] = \
                img.reshape(ph, pw, ch, 2)[:, :, :, 0]
        else:
            full_px[y0::dy, x0::dx] = img.reshape(ph, pw, ch)
    if colortype == 3:
        if full_idx.max(initial=0) >= len(plte):
            raise ValueError("PNG palette index out of range")
        px = plte[full_idx]
    elif colortype == 0:
        return full_px[:, :, 0].copy()
    elif colortype == 4:                      # grey + alpha
        return full_px[:, :, 0].copy()
    else:
        px = full_px
    return _q14_gray(px[:, :, 0].astype(np.int32),
                     px[:, :, 1].astype(np.int32),
                     px[:, :, 2].astype(np.int32))


def decode_wav(payload: bytes) -> np.ndarray:
    """WAV bytes -> mono float32 samples in [-1, 1] (channel mean)."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:                          # unsigned 8-bit
        x = (np.frombuffer(frames, dtype=np.uint8).astype(np.float32)
             - 128.0) / 128.0
    elif width == 4:
        x = (np.frombuffer(frames, dtype="<i4").astype(np.float32)
             / 2147483648.0)
    else:
        raise UnsupportedMedia(f"WAV sample width {width} not implemented")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x.astype(np.float32)


# ---------------------------------------------------------------------------
# GIF (LZW), first frame, luminance output
# ---------------------------------------------------------------------------

def decode_gif(payload: bytes) -> "np.ndarray":
    """GIF87a/89a first frame -> (H, W) uint8 luminance (palette RGB
    through the same reference Q14 grey form as PNG).  Interlaced images
    (GIF89a §20: row passes 0::8, 4::8, 2::4, 1::2) are reordered after
    LZW decode."""
    if payload[:4] != b"GIF8" or payload[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF")
    pos = 6
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", payload[pos:pos + 7])
    pos += 7
    global_pal = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        global_pal = np.frombuffer(
            payload, np.uint8, size * 3, pos).reshape(size, 3)
        pos += size * 3
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:                      # extension: skip sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:                    # image descriptor
            _x, _y, w, h, iflags = struct.unpack(
                "<HHHHB", payload[pos + 1:pos + 10])
            _check_dims(w, h)
            pos += 10
            pal = global_pal
            if iflags & 0x80:
                size = 2 << (iflags & 0x07)
                pal = np.frombuffer(
                    payload, np.uint8, size * 3, pos).reshape(size, 3)
                pos += size * 3
            if pal is None:
                raise ValueError("GIF image without a color table")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos]:
                n = payload[pos]
                data += payload[pos + 1:pos + 1 + n]
                pos += 1 + n
            idx = _gif_lzw(bytes(data), min_code, w * h)
            px = pal[np.asarray(idx[:w * h], dtype=np.int32)]
            r = px[:, 0].astype(np.int32)
            g = px[:, 1].astype(np.int32)
            bch = px[:, 2].astype(np.int32)
            lum = _q14_gray(r, g, bch).reshape(h, w)
            if iflags & 0x40:     # interlaced: stored rows are the 4
                order = np.concatenate([    # passes 0::8, 4::8, 2::4, 1::2
                    np.arange(0, h, 8), np.arange(4, h, 8),
                    np.arange(2, h, 4), np.arange(1, h, 2)])
                out = np.empty_like(lum)
                out[order] = lum
                return out
            return lum
        elif b == 0x3B:                    # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{b:02x}")
    raise ValueError("GIF: no image data")


def _gif_lzw(data: bytes, min_code: int, limit: int) -> list[int]:
    """GIF-variant LZW: LSB-first codes, width grows min_code+1..12,
    CLEAR resets the table, END stops."""
    if not 1 <= min_code <= 11:
        # attacker-controlled byte: 1 << 255 in reset() would allocate
        # until the OOM killer fires — the LZW analog of _check_dims
        # (max code width is 12, so min_code 12+ is malformed anyway)
        raise ValueError(f"GIF LZW minimum code size {min_code}")
    clear = 1 << min_code
    end = clear + 1
    out: list[int] = []
    bitpos = 0
    total_bits = len(data) * 8

    def reset():
        return ({i: [i] for i in range(clear)}, clear + 2, min_code + 1)

    table, free, width = reset()
    prev: list[int] | None = None
    while bitpos + width <= total_bits and len(out) < limit:
        byte = bitpos >> 3
        code = int.from_bytes(data[byte:byte + 3], "little")
        code = (code >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table, free, width = reset()
            prev = None
            continue
        if code == end:
            break
        if code in table:
            entry = table[code]
        elif code == free and prev is not None:
            entry = prev + [prev[0]]       # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if prev is not None and free < 4096:
            table[free] = prev + [entry[0]]
            free += 1
            if free == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF container probe (no sample decode)
# ---------------------------------------------------------------------------

def _bmff_boxes(buf: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack(">I", buf[pos:pos + 4])[0]
        btype = buf[pos + 4:pos + 8]
        hdr = 8
        if size == 1:                      # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated mp4 largesize box")
            size = struct.unpack(">Q", buf[pos + 8:pos + 16])[0]
            hdr = 16
        elif size == 0:                    # box extends to end
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("bad mp4 box size")
        yield btype, pos + hdr, pos + size
        pos += size


def _bmff_find(buf: bytes, start: int, end: int, btype: bytes):
    for t, s, e in _bmff_boxes(buf, start, end):
        if t == btype:
            return s, e
    return None


def probe_mp4(payload: bytes) -> tuple[int, float]:
    """ISO BMFF probe -> (n_frames, fps) for the first VIDEO track.

    Reads only box structure: ``moov/trak/mdia`` with ``hdlr`` handler
    'vide', ``mdhd`` media timescale, and ``stbl/stts`` sample-duration
    census (n_frames = sum of sample counts; fps = n_frames * timescale
    / sum(count * delta)).  No sample data is touched — the probe cost
    is independent of clip length, which is what a 100 TB frame-sampling
    stage needs.  Raises UnsupportedMedia for non-mp4 payloads and
    ValueError for structurally broken ones."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise UnsupportedMedia("not an ISO BMFF (mp4) payload")
    moov = _bmff_find(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("mp4 without moov")
    for t, s, e in _bmff_boxes(payload, *moov):
        if t != b"trak":
            continue
        mdia = _bmff_find(payload, s, e, b"mdia")
        if mdia is None:
            continue
        hdlr = _bmff_find(payload, *mdia, b"hdlr")
        if hdlr is None or payload[hdlr[0] + 8:hdlr[0] + 12] != b"vide":
            continue
        mdhd = _bmff_find(payload, *mdia, b"mdhd")
        if mdhd is None:
            raise ValueError("video trak without mdhd")
        version = payload[mdhd[0]]
        if version == 0:
            timescale = struct.unpack(
                ">I", payload[mdhd[0] + 12:mdhd[0] + 16])[0]
        elif version == 1:
            timescale = struct.unpack(
                ">I", payload[mdhd[0] + 20:mdhd[0] + 24])[0]
        else:
            raise ValueError(f"mdhd version {version}")
        minf = _bmff_find(payload, *mdia, b"minf")
        stbl = minf and _bmff_find(payload, *minf, b"stbl")
        stts = stbl and _bmff_find(payload, *stbl, b"stts")
        if not stts:
            raise ValueError("video trak without stts")
        n_entries = struct.unpack(
            ">I", payload[stts[0] + 4:stts[0] + 8])[0]
        if stts[0] + 8 + 8 * n_entries > stts[1]:
            raise ValueError("truncated stts")
        entries = np.frombuffer(
            payload, dtype=">u4", count=2 * n_entries,
            offset=stts[0] + 8).reshape(-1, 2).astype(np.int64)
        n_frames = int(entries[:, 0].sum())
        total_delta = int((entries[:, 0] * entries[:, 1]).sum())
        if n_frames <= 0 or total_delta <= 0 or timescale <= 0:
            raise ValueError("empty or degenerate stts/mdhd")
        return n_frames, n_frames * timescale / total_delta
    raise UnsupportedMedia("mp4 has no video track")
