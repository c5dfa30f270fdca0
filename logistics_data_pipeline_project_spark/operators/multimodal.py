"""Multimodal column support (BASELINE.json north star).

Design: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct alongside (media_type, n_bytes, sha256, plus
modality-specific fields). Decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so payload bytes never round-trip through Python row-by-row
and each batch decodes vectorized.

Every Spark-facing operator here is one ``rowmap.map_payloads`` stage:
the operator supplies only the per-payload ``rows_of`` generator, and
``rowmap`` owns the batch loop, the input cast and the ``on_error``
quarantine lane.

The codecs share one wire-format layer, defined once at the top of the
module: the container walkers ``_riff_chunks`` (with ``_avi_chunks`` for
AVI LIST trees and ``_wav_fmt_data`` for the WAV fmt/data pair),
``_mp4_boxes`` / ``_mp4_child`` (ISO-BMFF) and ``_ebml_elements``
(Matroska/WebM); the MSB-first ``_MsbBitReader`` / ``_MsbBitWriter``
(fixed-width, unary and Exp-Golomb fields) that FLAC, the H.264/H.265/AV1
headers and the JPEG entropy coder read and write through; and
``_make_crc_table`` for the FLAC and Ogg CRCs. JPEG's LUT-driven
``_BitReader`` stays separate: it reads de-stuffed scan data on the
decoder's hot path.

Decode is REAL for the formats parseable in pure Python (no image/audio
libraries are available). Header level: PNG / BMP / GIF / JPEG
dimensions and WAV duration (`parse_image_header` /
`parse_wav_duration_ms`). Pixel / sample level: full 8-bit
non-interlaced PNG decode (zlib inflate + scanline unfilter),
nearest-neighbor resize, deterministic PNG re-encode
(`decode_png_pixels` / `nearest_resize` / `encode_png`), 16-bit PCM WAV
sample stats (`parse_wav_pcm_stats`), and full GIF first-frame pixel
decode + encode (variable-width LZW both directions: `decode_gif_pixels`
/ `encode_gif` / `gif_probe`) — all golden-tested on real byte
payloads. Baseline JPEG is a full real codec too (ITU-T T.81 SOF0,
grayscale and YCbCr color at 4:4:4 / 4:2:2 / 4:2:0 chroma subsampling:
numpy DCT/IDCT, Annex K quant/Huffman tables, interleaved multi-block
MCUs, box-average downsampling / replication upsampling, byte stuffing,
restart-marker handling — ``encode_jpeg`` / ``decode_jpeg_pixels`` /
``jpeg_probe``). Video frame extraction is real for YUV4MPEG2 streams
(``encode_y4m`` / ``decode_y4m_frames`` / ``y4m_frame_stats``) and
MJPEG AVI (``mjpeg_frame_stats``; ``sample_frames`` takes either), all
sampled by one rule, ``sampled_frames``. Progressive JPEG (SOF2:
spectral selection + successive approximation) is fully decoded and
encoded. Arithmetic-coded/12-bit JPEG and inter-coded video raise
NotImplementedError where Pillow/pyav calls would go — an honest
capability boundary, not a silent fake.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .rowmap import map_payloads

__all__ = [
    "attach_payload_metadata",
    "decode_media",
    "parse_image_header",
    "parse_wav_duration_ms",
    "parse_wav_pcm_stats",
    "decode_png_pixels",
    "encode_png",
    "decode_gif_pixels",
    "encode_gif",
    "gif_probe",
    "encode_jpeg",
    "decode_jpeg_pixels",
    "jpeg_probe",
    "jpeg_qtable",
    "nearest_resize",
    "png_probe",
    "encode_y4m",
    "decode_y4m_frames",
    "y4m_frame_stats",
    "encode_avi_mjpeg",
    "decode_avi_mjpeg_frames",
    "mjpeg_frame_stats",
    "encode_wav_pcm16",
    "decode_wav_samples",
    "audio_frame_features",
    "decode_image_pixels",
    "dhash_reference",
    "dhash_images",
    "sample_frames",
    "sampled_frames",
    "resize_images",
    "MEDIA_FEATURE_SCHEMA",
    "FRAME_SCHEMA",
    "parse_avc_sps",
    "encode_avc_sps",
    "parse_avcc",
    "encode_avcc",
    "parse_hevc_sps",
    "encode_hevc_sps",
    "parse_hvcc",
    "encode_hvcc",
    "parse_av1_sequence_header",
    "encode_av1_sequence_header",
    "parse_av1c",
    "encode_av1c",
    "parse_vpcc",
    "encode_vpcc",
    "video_stream_params",
]


# ---------------------------------------------------------------------------
# Wire-format primitives shared by the codecs below
# ---------------------------------------------------------------------------


def _riff_chunks(p: bytes, lo: int, hi: int):
    """Yield (fourcc, body_lo, body_hi, declared_size) per RIFF chunk in
    ``p[lo:hi]``. ``body_hi`` is clipped to ``hi``; the walk steps over
    the declared size plus the pad byte that word-aligns an odd chunk."""
    i = lo
    while i + 8 <= hi:
        size = int.from_bytes(p[i + 4 : i + 8], "little")
        yield p[i : i + 4], i + 8, min(i + 8 + size, hi), size
        i += 8 + size + (size & 1)


def _avi_chunks(p: bytes, lo: int, hi: int):
    """Leaf (fourcc, body_lo, body_hi) chunks of an AVI's RIFF tree in
    file order: a LIST is entered past its 4-byte list type, with its
    children clipped to it."""
    for cid, b0, b1, _size in _riff_chunks(p, lo, hi):
        if cid == b"LIST":
            yield from _avi_chunks(p, b0 + 4, b1)
        else:
            yield cid, b0, b1


def _wav_fmt_data(p: bytes, whole_fmt: bool):
    """(fmt, data) of a RIFF/WAVE payload. ``fmt`` unpacks the last
    'fmt ' chunk's first 16 bytes as (format_code, n_channels,
    sample_rate, byte_rate, block_align, bits_per_sample); a chunk counts
    when those 16 bytes lie inside the payload and, with ``whole_fmt``,
    inside its declared size too. ``data`` is the last 'data' chunk's
    (body_lo, body_hi, declared_size). Either is None when absent."""
    import struct

    fmt = data = None
    for cid, b0, b1, size in _riff_chunks(p, 12, len(p)):
        if cid == b"fmt " and b0 + 16 <= len(p) and (size >= 16 or not whole_fmt):
            fmt = struct.unpack("<HHIIHH", p[b0 : b0 + 16])
        elif cid == b"data":
            data = (b0, b1, size)
    return fmt, data


def _mp4_boxes(p: bytes, lo: int, hi: int):
    """Yield (fourcc, body_lo, box_end) per ISO-BMFF box in ``p[lo:hi]``
    (size 1: a 64-bit largesize follows; size 0: the box runs to
    ``hi``). Stops at the first box that is undersized or overruns."""
    j = lo
    while j + 8 <= hi:
        size = int.from_bytes(p[j : j + 4], "big")
        fourcc = p[j + 4 : j + 8]
        body = j + 8
        if size == 1:
            if j + 16 > hi:
                return
            size = int.from_bytes(p[j + 8 : j + 16], "big")
            body = j + 16
        elif size == 0:
            size = hi - j
        if size < 8 or j + size > hi:
            return
        yield fourcc, body, j + size
        j += size


def _mp4_child(p: bytes, lo: int, hi: int, fourcc: bytes):
    """(body_lo, box_end) of the first ``fourcc`` box in ``p[lo:hi]``,
    or None."""
    for fc, b, e in _mp4_boxes(p, lo, hi):
        if fc == fourcc:
            return b, e
    return None


def _ebml_vint(p: bytes, i: int, strip_marker: bool) -> tuple[int, int]:
    """Parse one EBML variable-length integer at offset ``i`` ->
    (value, next_offset).  The first byte's leading-zero count gives
    the width; element IDs keep the marker bit (matroska convention),
    sizes strip it.  Raises ValueError on truncation/zero byte."""
    if i >= len(p) or p[i] == 0:
        raise ValueError("bad EBML varint")
    first = p[i]
    width = 8 - first.bit_length() + 1
    if i + width > len(p):
        raise ValueError("truncated EBML varint")
    v = first & (0xFF >> width) if strip_marker else first
    for b in p[i + 1 : i + width]:
        v = (v << 8) | b
    return v, i + width


def _ebml_elements(p: bytes, lo: int, hi: int):
    """Yield (element_id, body_lo, body_hi) per EBML element in
    ``p[lo:hi]``; stops at a malformed varint or an element that
    overruns ``hi``."""
    j = lo
    while j < hi:
        try:
            eid, k = _ebml_vint(p, j, strip_marker=False)
            size, body = _ebml_vint(p, k, strip_marker=True)
        except ValueError:
            return
        end = body + size
        if end > hi:
            return
        yield eid, body, end
        j = end


class _MsbBitReader:
    """MSB-first bit reader over bytes (the FLAC, H.264/H.265 and AV1 bit
    order). Raises ValueError past the end of the data.

    ``_bits``/``_ones`` optionally hold a whole-payload numpy bit cache
    (np.unpackbits + positions of set bits, computed ONCE per decode in
    decode_flac_samples) that the vectorized residual/verbatim readers
    index directly; the serial read()/read_unary() path stays the
    source of truth for headers and warmups."""

    __slots__ = ("data", "pos", "bit", "_bits", "_ones")

    def __init__(self, data: bytes, pos: int = 0):
        self.data, self.pos, self.bit = data, pos, 0
        self._bits = self._ones = None

    def bitpos(self) -> int:
        return self.pos * 8 + self.bit

    def seek_bit(self, b: int) -> None:
        self.pos, self.bit = b >> 3, b & 7

    def read(self, n: int) -> int:
        v = 0
        while n > 0:
            if self.pos >= len(self.data):
                raise ValueError("bitstream truncated")
            avail = 8 - self.bit
            take = n if n < avail else avail
            v = (v << take) | (
                (self.data[self.pos] >> (avail - take)) & ((1 << take) - 1)
            )
            self.bit += take
            if self.bit == 8:
                self.bit, self.pos = 0, self.pos + 1
            n -= take
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def ue(self) -> int:
        """Exp-Golomb ue(v) (H.264 §9.1); over 32 leading zeros is
        malformed."""
        zeros = 0
        while self.read(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("bad exp-golomb")
        return (1 << zeros) - 1 + self.read(zeros)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self) -> None:
        if self.bit:
            self.bit, self.pos = 0, self.pos + 1


class _MsbBitWriter:
    """MSB-first bit writer (inverse of _MsbBitReader)."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out, self.acc, self.nbits = bytearray(), 0, 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zero bits then the terminating 1

    def write_ue(self, v: int) -> None:
        self.write(v + 1, 2 * (v + 1).bit_length() - 1)  # Exp-Golomb ue(v)

    def write_bits(self, bits) -> None:
        """Append a numpy uint8 0/1 array (MSB-first bit order) in bulk:
        the whole-byte prefix goes through ``np.packbits`` straight into
        ``out``; the <8-bit tail lands in the accumulator — byte-for-byte
        identical to an equivalent sequence of ``write`` calls, without
        the per-bit Python arithmetic."""
        import numpy as np

        n = int(len(bits))
        if n == 0:
            return
        if self.nbits:
            head = np.empty(self.nbits + n, dtype=np.uint8)
            for i in range(self.nbits):  # <8 iterations
                head[i] = (self.acc >> (self.nbits - 1 - i)) & 1
            head[self.nbits :] = bits
            bits = head
            n += self.nbits
            self.acc = self.nbits = 0
        whole = n - (n % 8)
        if whole:
            self.out += np.packbits(bits[:whole]).tobytes()
        for i in range(whole, n):  # <8 leftover bits
            self.acc = (self.acc << 1) | int(bits[i])
            self.nbits += 1

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)


def _make_crc_table(poly: int, width: int) -> list[int]:
    """Byte-wise lookup table of a non-reflected CRC (MSB-first)."""
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for b in range(256):
        c = b << (width - 8)
        for _ in range(8):
            c = ((c << 1) ^ poly) & mask if c & top else (c << 1) & mask
        table.append(c)
    return table


def parse_image_header(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the container header of a PNG, BMP, GIF,
    JPEG, or WebP (VP8/VP8L/VP8X) byte payload — pure stdlib, no
    Pillow. Returns None when the payload is not one of those formats
    (or is truncated): dimensions live in fixed header fields for all
    five, so this is a REAL decode of the only image attributes
    `decode_media` promises.

    PNG: IHDR is always the first chunk — width/height big-endian at
    bytes 16..24. BMP: BITMAPINFOHEADER little-endian int32 at 18..26
    (height may be negative = top-down; abs()). GIF: logical screen size
    little-endian uint16 at 6..10. JPEG: walk the marker segments to the
    first SOF0..SOF15 frame header (skipping DHT/DAC/RST/etc.), height
    then width big-endian at offset 5 of the segment body."""
    import struct

    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", payload[16:24])
        return int(w), int(h)
    if len(payload) >= 26 and payload[:2] == b"BM":
        w, h = struct.unpack("<ii", payload[18:26])
        return int(w), abs(int(h))
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return int(w), int(h)
    if len(payload) >= 30 and payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # WebP: dims live in the first chunk's bitstream header. VP8
        # (lossy): 14-bit w/h after the 0x9d012a start code. VP8L
        # (lossless): 14+14 bits packed after the 0x2f signature. VP8X
        # (extended): 24-bit canvas w-1/h-1 after the flag bytes.
        tag = payload[12:16]
        if tag == b"VP8 " and payload[23:26] == b"\x9d\x01\x2a":
            w, h = struct.unpack("<HH", payload[26:30])
            return int(w & 0x3FFF), int(h & 0x3FFF)
        if tag == b"VP8L" and payload[20] == 0x2F:
            bits = struct.unpack("<I", payload[21:25])[0]
            return int((bits & 0x3FFF) + 1), int(((bits >> 14) & 0x3FFF) + 1)
        if tag == b"VP8X":
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            return w, h
        return None
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        while i + 1 < len(payload):
            if payload[i] != 0xFF:
                return None
            # any run of 0xFF bytes before a marker id is legal fill
            while i + 1 < len(payload) and payload[i + 1] == 0xFF:
                i += 1
            if i + 1 >= len(payload):
                return None
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            if marker in (0xD9, 0xDA):
                # EOI, or SOS: raw entropy-coded data follows (no length
                # framing) — a well-formed JPEG puts SOF before SOS, so
                # reaching either without one means no dimensions here
                return None
            if i + 4 > len(payload):
                return None
            seglen = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if seglen < 2:
                return None
            # SOF0-SOF15 except DHT(C4)/JPG(C8)/DAC(CC) hold dimensions
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > len(payload):
                    return None
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return int(w), int(h)
            i += 2 + seglen
    return None


def parse_wav_duration_ms(payload: bytes) -> int | None:
    """Duration in ms from a RIFF/WAVE header — pure stdlib, no librosa.
    Walks the chunk list for fmt (byte rate) and data (payload size);
    duration = data_bytes / byte_rate, with the data chunk's declared
    size. None for non-WAV payloads."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    fmt, data = _wav_fmt_data(payload, whole_fmt=False)
    if fmt is None or not fmt[3] or data is None:
        return None
    return int(data[2] * 1000 // fmt[3])


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> color type


#: Adam7 pass grid: (x offset, y offset, x step, y step) per pass.
_PNG_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(stream: bytes, w: int, h: int, ch: int) -> bytearray:
    """Undo the five PNG scanline filters over one (sub-)image whose
    serialized form is ``h`` rows of 1 filter byte + ``w*ch`` samples.

    Numpy-vectorized like the JPEG block math (multimodal.py JPEG path):
    None is a memcpy, Sub is a wrapping uint8 cumsum down the channel
    lanes, Up is one wrapping vector add against the previous output
    row — and an all-None image (this repo's own encoder, plus most
    screenshot-style PNGs) short-circuits to a single reshape with no
    per-row loop at all. Only Average and Paeth keep a scalar loop, and
    only because their LEFT-neighbor term reads the output being built
    (inherently sequential); the loop runs over plain Python ints from
    pre-extracted lists, the cheapest per-element form, and everything
    that does not depend on the left neighbor (the full previous row) is
    already materialized. This is a per-core constant-factor fix — the
    decode was always embarrassingly parallel across images."""
    import numpy as np

    stride = w * ch
    if len(stream) != h * (stride + 1):
        raise ValueError("PNG stream length mismatch")
    arr = np.frombuffer(stream, dtype=np.uint8).reshape(h, stride + 1)
    filters = arr[:, 0]
    rows = arr[:, 1:]
    bad = filters > 4
    if bad.any():
        raise ValueError(f"bad PNG filter byte {int(filters[bad][0])}")
    if not filters.any():  # all filter 0: the whole image is one copy
        return bytearray(rows.tobytes())
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(filters[y])
        row = rows[y]
        if f == 0:
            out[y] = row
        elif f == 1:  # Sub: wrapping cumsum per channel lane
            out[y] = np.add.accumulate(
                row.reshape(w, ch), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif f == 2:  # Up: one wrapping vector add
            out[y] = row + prev
        elif f == 3:  # Average: left term forces a scalar pass
            r, p, o = row.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                a = o[x - ch] if x >= ch else 0
                o[x] = (r[x] + ((a + p[x]) >> 1)) & 0xFF
            out[y] = o
        else:  # Paeth: left term forces a scalar pass
            r, p, o = row.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                a = o[x - ch] if x >= ch else 0
                c = p[x - ch] if x >= ch else 0
                b = p[x]
                pr = a + b - c
                pa, pb, pc = abs(pr - a), abs(pr - b), abs(pr - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                o[x] = (r[x] + pred) & 0xFF
            out[y] = o
        prev = out[y]
    return bytearray(out.tobytes())


def decode_png_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL pixel decode of an 8-bit PNG, non-interlaced or Adam7
    interlaced, all five color types — pure stdlib (zlib inflate + the
    five scanline filters; interlaced streams unfilter each of the 7
    passes as its own sub-image; palette images resolve PLTE to RGB,
    per spec). Returns (width, height, channels, raw) where ``raw`` is
    row-major unfiltered samples, ``width*height*channels`` bytes.
    Palette images resolve PLTE to RGB — or, when a tRNS chunk is
    present (palette alpha, common on the web), PLTE+tRNS to RGBA
    (entries beyond the tRNS table are fully opaque, per spec).
    16-bit-depth images decode exactly and reduce to 8 bits by the
    high byte of each big-endian sample — the spec's own bit-depth
    scaling for display (12.5: sample >> 8), so the raw contract stays
    uniform 8-bit.  The unfilter needs no special case: PNG filters
    operate on BYTES with a bpp left-neighbor distance (spec 9.2), so
    a 16-bit row is the 8-bit algorithm with doubled 'channels'.
    Raises ValueError for non-PNG payloads; 1/2/4-bit depths remain
    the honest boundary."""
    import struct
    import zlib

    if len(payload) < 33 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    w, h = struct.unpack(">II", payload[16:24])
    bit_depth, color_type, _comp, _filt, interlace = payload[24:29]
    paletted = color_type == 3
    if (
        bit_depth not in (8, 16)
        or (bit_depth == 16 and paletted)  # illegal per spec 11.2.2
        or interlace not in (0, 1)
        or (color_type not in _PNG_CHANNELS and not paletted)
    ):
        raise ValueError(
            f"unsupported PNG (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace}): needs Pillow"
        )
    ch = 1 if paletted else _PNG_CHANNELS[color_type]
    sample_bytes = bit_depth // 8
    chb = ch * sample_bytes  # bytes per pixel = the filter unit
    # walk chunks, concatenating IDAT
    i, idat, plte, trns = 8, bytearray(), None, None
    while i + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[i : i + 4])
        tag = payload[i + 4 : i + 8]
        if tag == b"IDAT":
            idat += payload[i + 8 : i + 8 + size]
        elif tag == b"PLTE":
            plte = payload[i + 8 : i + 8 + size]
        elif tag == b"tRNS" and paletted:
            trns = payload[i + 8 : i + 8 + size]
        elif tag == b"IEND":
            break
        i += 12 + size  # size + tag + crc
    if paletted and (plte is None or len(plte) % 3):
        raise ValueError("palette PNG missing/bad PLTE")
    if trns is not None and len(trns) > (len(plte) // 3 if plte else 0):
        raise ValueError("PNG tRNS longer than palette")
    try:
        stream = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # corrupt/truncated IDAT must surface as the same capability
        # error surface as any other undecodable payload
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e

    def resolve(samples: bytes) -> tuple[int, bytes]:
        # palette lookup as one numpy fancy-index gather, not a per-pixel
        # loop — same constant-factor discipline as the unfilter; with a
        # tRNS table the gather is over RGBA rows (alpha = tRNS entry,
        # opaque past its end, per spec 11.3.2.1). 16-bit images reduce
        # to the high byte of each big-endian sample (spec 12.5).
        import numpy as np

        if sample_bytes == 2:
            return ch, np.frombuffer(samples, dtype=np.uint8)[0::2].tobytes()
        if not paletted:
            return ch, samples
        idx = np.frombuffer(samples, dtype=np.uint8)
        if idx.size and 3 * int(idx.max()) + 3 > len(plte):
            raise ValueError("PNG palette index out of range")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if trns is None:
            return 3, pal[idx].tobytes()
        alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
        alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
        pal_a = np.column_stack([pal, alpha])
        return 4, pal_a[idx].tobytes()

    if interlace == 0:
        out_ch, raw0 = resolve(bytes(_png_unfilter(stream, w, h, chb)))
        return int(w), int(h), out_ch, raw0
    # Adam7: 7 independently-filtered sub-images, concatenated; empty
    # passes (zero rows or columns) contribute no bytes at all. Each
    # pass scatters into place with one strided numpy assignment.
    import numpy as np

    raw = np.zeros((h, w, chb), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _PNG_ADAM7:
        pw = (w - x0 + dx - 1) // dx
        phh = (h - y0 + dy - 1) // dy
        if pw <= 0 or phh <= 0:
            continue
        span = phh * (pw * chb + 1)
        sub = _png_unfilter(stream[pos : pos + span], pw, phh, chb)
        pos += span
        raw[y0::dy, x0::dx, :] = np.frombuffer(bytes(sub), dtype=np.uint8).reshape(
            phh, pw, chb
        )
    if pos != len(stream):
        raise ValueError("PNG stream length mismatch")
    out_ch, raw7 = resolve(raw.tobytes())
    return int(w), int(h), out_ch, raw7


def encode_png(
    width: int,
    height: int,
    channels: int,
    raw: bytes,
    interlaced: bool = False,
    palette: bytes | None = None,
    trns: bytes | None = None,
) -> bytes:
    """Encode row-major 8-bit samples as a standard PNG — pure stdlib
    (filter 0 scanlines + zlib level 9, so the byte output is
    deterministic for a given input). ``interlaced=True`` serializes the
    seven Adam7 passes (each its own filtered sub-image, per spec).
    ``palette`` (RGB triples, <=256 entries) switches to color type 3:
    ``raw`` is then ``width*height`` palette indices and ``channels``
    must be 1; ``trns`` (per-entry alpha bytes, may be shorter than the
    palette — the tail is opaque) adds the palette-alpha chunk. The
    inverse of ``decode_png_pixels`` and the real re-encode leg of
    ``resize_images``."""
    import struct
    import zlib
    from binascii import crc32

    if palette is not None:
        if channels != 1:
            raise ValueError("palette PNG takes 1-channel indices")
        if not palette or len(palette) % 3 or len(palette) > 768:
            raise ValueError("palette must be 1..256 RGB triples")
        if trns is not None and (not trns or len(trns) > len(palette) // 3):
            raise ValueError("trns must be 1..len(palette) alpha bytes")
    elif trns is not None:
        raise ValueError("trns requires a palette")
    elif channels not in _PNG_COLOR_TYPE:
        raise ValueError(f"unsupported channel count {channels}")
    if len(raw) != width * height * channels:
        raise ValueError("raw buffer size does not match dimensions")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB",
        width,
        height,
        8,
        3 if palette is not None else _PNG_COLOR_TYPE[channels],
        0,
        0,
        1 if interlaced else 0,
    )
    stride = width * channels
    if not interlaced:
        scanlines = b"".join(
            b"\x00" + raw[y * stride : (y + 1) * stride] for y in range(height)
        )
    else:
        parts = []
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (width - x0 + dx - 1) // dx
            phh = (height - y0 + dy - 1) // dy
            if pw <= 0 or phh <= 0:
                continue
            for j in range(phh):
                y = y0 + j * dy
                parts.append(b"\x00")
                parts.append(
                    b"".join(
                        raw[
                            (y * width + x0 + k * dx) * channels : (
                                y * width + x0 + k * dx
                            )
                            * channels
                            + channels
                        ]
                        for k in range(pw)
                    )
                )
        scanlines = b"".join(parts)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + (chunk(b"PLTE", palette) if palette is not None else b"")
        + (chunk(b"tRNS", trns) if trns is not None else b"")
        + chunk(b"IDAT", zlib.compress(scanlines, 9))
        + chunk(b"IEND", b"")
    )


def nearest_resize(
    raw: bytes,
    width: int,
    height: int,
    channels: int,
    new_width: int,
    new_height: int,
) -> bytes:
    """Nearest-neighbor resample of a row-major 8-bit sample buffer:
    target pixel (x, y) reads source (x*w DIV nw, y*h DIV nh) — pure
    integer index math, deterministic."""
    out = bytearray(new_width * new_height * channels)
    for y in range(new_height):
        sy = (y * height) // new_height
        src_row = sy * width * channels
        dst_row = y * new_width * channels
        for x in range(new_width):
            sx = (x * width) // new_width
            s = src_row + sx * channels
            d = dst_row + x * channels
            out[d : d + channels] = raw[s : s + channels]
    return bytes(out)


def parse_wav_pcm_stats(payload: bytes) -> tuple[int, int, int] | None:
    """REAL sample decode of 16-bit PCM RIFF/WAVE: (n_frames, peak_abs,
    rms) with rms = isqrt(sum(s^2) DIV n_samples) — integer-exact audio
    energy stats, pure stdlib struct. None for non-WAV / non-16-bit-PCM
    payloads (those genuinely need a codec library)."""
    import math
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    fmt, chunk = _wav_fmt_data(payload, whole_fmt=True)
    if chunk is None or fmt is None:
        return None
    fmt_code, n_channels, _rate, _byte_rate, _align, bits = fmt
    if fmt_code != 1 or bits != 16 or not n_channels:
        return None
    data = payload[chunk[0] : chunk[1]]
    n_samples = len(data) // 2
    samples = struct.unpack(f"<{n_samples}h", data[: n_samples * 2])
    if not n_samples:
        return 0, 0, 0
    peak = max(abs(s) for s in samples)
    rms = math.isqrt(sum(s * s for s in samples) // n_samples)
    return n_samples // n_channels, int(peak), int(rms)


def attach_payload_metadata(
    df: DataFrame, payload_col: str, media_type_col: str | None = None
) -> DataFrame:
    """Add the typed metadata struct next to an opaque binary column —
    JVM-side only (octet_length/sha2), no Python."""
    meta = F.struct(
        (
            F.col(media_type_col)
            if media_type_col
            else F.lit("application/octet-stream")
        ).alias("media_type"),
        F.octet_length(F.col(payload_col)).alias("n_bytes"),
        F.sha2(F.col(payload_col), 256).alias("sha256"),
    )
    return df.withColumn("media_meta", meta)


MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("feature_digest", StringType()),
    ]
)


def decode_media(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    media_type_col: str,
) -> DataFrame:
    """REAL header decode of media payloads via Arrow-batched
    mapInPandas: PNG/BMP/GIF/JPEG dimensions for ``image*`` types, WAV
    duration for ``audio*``, and the payload's sha256 as
    ``feature_digest``.  Anything else raises NotImplementedError — it
    genuinely needs a codec library (Pillow/librosa/pyav, absent).

    Partitioning note: payloads dominate row size, so upstream should
    repartition to keep batches within executor memory
    (``spark.sql.files.maxPartitionBytes`` handles file sources; for table
    sources repartition by id). The iterator-of-batches signature keeps
    peak memory at one Arrow batch per task.
    """

    def rows_of(_id, payload, mtype):
        import hashlib

        mtype = str(mtype)
        width = height = duration = None
        if mtype.startswith("image"):
            dims = parse_image_header(payload)
            if dims is None:
                raise NotImplementedError(
                    f"image payload id={_id} is not PNG/BMP/GIF/"
                    "JPEG; full decode requires Pillow (absent)"
                )
            width, height = dims
        elif mtype.startswith("audio"):
            duration = parse_wav_duration_ms(payload)
            if duration is None:
                raise NotImplementedError(
                    f"audio payload id={_id} is not RIFF/WAVE; "
                    "decode requires librosa/pyav (absent)"
                )
        else:
            raise NotImplementedError(
                f"media_type {mtype!r} decode requires pyav (absent)"
            )
        digest = hashlib.sha256(payload).hexdigest()
        yield _id, mtype, len(payload), width, height, duration, digest

    return map_payloads(
        df, id_col, payload_col, MEDIA_FEATURE_SCHEMA, rows_of,
        extra_cols=(media_type_col,),
    )


def png_probe(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL PNG pixel probe via mapInPandas: (id, width, height,
    channels, first_px) where first_px is the decoded value of the
    top-left sample — the verification tap for decode->transform->encode
    pipelines (a re-encoded payload must probe back to the pixels the
    transform promised)."""

    def rows_of(_id, payload):
        w, h, ch, raw = decode_png_pixels(payload)
        yield _id, w, h, ch, raw[0] if raw else None

    return map_payloads(
        df, id_col, payload_col,
        "id long, width int, height int, channels int, first_px int",
        rows_of,
    )


FRAME_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_ms", IntegerType()),
        StructField("frame_digest", StringType()),
    ]
)


def _check_every_ms(every_ms: int) -> None:
    # a step below 1 ms would pick frame 0 only, or (negative) frames
    # counted back from the end of the stream
    if every_ms < 1:
        raise ValueError(f"every_ms must be >= 1, got {every_ms!r}")


def sampled_frames(
    n: int, num: int, den: int, every_ms: int, max_frames: int
) -> list[tuple[int, int]]:
    """The video sampling rule: for k = 0..max_frames-1 take the frame
    at or before ``k * every_ms`` on the stream's own ``num/den`` fps
    timebase, stopping at the end of the stream or at the first frame
    that would be taken twice.  Returns ``(frame_index, frame_ms)``
    pairs, ``frame_ms`` being that frame's own start time.  ``every_ms``
    below 1 raises ``ValueError``."""
    _check_every_ms(every_ms)
    picked: list[tuple[int, int]] = []
    for k in range(max_frames):
        idx = k * every_ms * num // (1000 * den)
        # idx is monotone in k, so a repeat can only be the last pick
        if idx >= n or (picked and picked[-1][0] == idx):
            break
        picked.append((idx, idx * 1000 * den // num))
    return picked


def sample_frames(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sample video payloads via mapInPandas: one output row per
    sampled frame (id, frame_index, frame_ms, frame_digest), frames
    picked by ``sampled_frames``.

    Row explosion happens Python-side inside the Arrow batch, so a task's
    peak memory is one batch of payloads plus its frame rows — the frame
    rows are tiny (no pixel data leaves the UDF; downstream feature
    extraction happens in the same pass at real scale).

    REAL sampling for YUV4MPEG2 payloads (digest = sha256 of the actual
    frame planes, ``decode_y4m_frames``) and for MJPEG AVI payloads
    (RIFF walk + JPEG decode of ONLY the sampled frames, digest = sha256
    of the decoded pixels, ``decode_avi_mjpeg_frames``).  Other
    compressed video raises NotImplementedError (inter-coded formats
    need pyav) — the honest boundary.
    """
    _check_every_ms(every_ms)

    def rows_of(_id, payload):
        import hashlib

        if payload.startswith(b"YUV4MPEG2"):
            _w, _h, num, den, frames = decode_y4m_frames(payload)
            jpeg = False
        elif payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            _w, _h, num, den, frames = decode_avi_mjpeg_frames(payload)
            jpeg = True
        else:
            raise NotImplementedError(
                "real frame sampling of inter-coded video requires pyav; "
                "YUV4MPEG2 and MJPEG-AVI decode here"
            )
        for idx, ms in sampled_frames(len(frames), num, den, every_ms, max_frames):
            # decode only the sampled frame
            px = decode_jpeg_pixels(frames[idx])[3] if jpeg else frames[idx]
            yield _id, idx, ms, hashlib.sha256(px).hexdigest()

    return map_payloads(df, id_col, payload_col, FRAME_SCHEMA, rows_of)


def resize_images(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    width: int = 224,
    height: int = 224,
) -> DataFrame:
    """Resize image payloads via mapInPandas: (id, width, height,
    resized_payload) with the binary column preserved end-to-end.

    A REAL resize for 8-bit non-interlaced PNG payloads: stdlib inflate
    -> unfilter -> nearest-neighbor resample -> deterministic re-encode
    (``decode_png_pixels`` / ``nearest_resize`` / ``encode_png``).
    Other formats raise NotImplementedError — they genuinely need
    Pillow.
    """

    def rows_of(_id, payload):
        try:
            w0, h0, ch, raw = decode_png_pixels(payload)
        except ValueError as e:
            raise NotImplementedError(
                f"image payload id={_id}: {e}; non-PNG resize "
                "requires Pillow (absent)"
            ) from e
        resized = nearest_resize(raw, w0, h0, ch, width, height)
        yield _id, width, height, encode_png(width, height, ch, resized)

    return map_payloads(
        df, id_col, payload_col,
        "id long, width int, height int, resized_payload binary",
        rows_of,
    )


# ---------------------------------------------------------------------------
# GIF pixel codec (pure stdlib: variable-width LZW, both directions)
# ---------------------------------------------------------------------------


def _gif_lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW compress (LSB-first variable-width codes).

    Width rule (mirrors every conforming decoder): a code is emitted at
    width max(min+1, bit_length(next_code)) capped at 12; the table
    freezes at 4096 entries. The initial CLEAR and final EOI codes are
    part of the stream per the GIF89a spec."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # (prefix_code << 8 | byte) -> code: int keys instead of growing
    # bytes keys — same dictionary contents, far cheaper per input byte
    table: dict[int, int] = {}
    next_code = eoi + 1
    out = bytearray()
    buf = 0
    nbits = 0
    mcs1 = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal buf, nbits
        w = next_code.bit_length()
        if w < mcs1:
            w = mcs1
        elif w > 12:
            w = 12
        buf |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    emit(clear)
    cur = -1
    get = table.get
    for b in data:
        if cur < 0:
            cur = b
            continue
        key = (cur << 8) | b
        nxt = get(key)
        if nxt is not None:
            cur = nxt
            continue
        emit(cur)
        if next_code < 4096:
            table[key] = next_code
            next_code += 1
        cur = b
    if cur >= 0:
        emit(cur)
    emit(eoi)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW decompress. The reader's width lags the writer's
    dictionary by exactly one entry, so the read width derives from
    next_code + 1 (the writer's table top at the moment it emitted the
    code being read)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    buf = 0
    nbits = 0
    n = len(data)
    mcs1 = min_code_size + 1

    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table: list[bytes] = list(roots)
    next_code = eoi + 1
    out = bytearray()
    prev: bytes | None = None

    # bit reading inlined (the per-code closure call dominated): the
    # reader's width lags the writer's dictionary by exactly one entry,
    # so the read width derives from next_code + 1
    while True:
        w = (next_code + 1).bit_length()
        if w < mcs1:
            w = mcs1
        elif w > 12:
            w = 12
        while nbits < w:
            if pos >= n:
                return bytes(out)  # truncated stream: same as old None
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << w) - 1)
        buf >>= w
        nbits -= w
        if code == eoi:
            return bytes(out)
        if code == clear:
            table = list(roots)
            next_code = eoi + 1
            prev = None
            continue
        if code < len(table):
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt LZW stream: code {code} > table top")
        out.extend(entry)
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
        prev = entry


#: GIF interlace passes: (first row, row step) in storage order.
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlaced_rows(height: int) -> list[int]:
    """Row indices in GIF interlace STORAGE order (the order an
    interlaced stream carries them)."""
    return [y for start, step in _GIF_INTERLACE for y in range(start, height, step)]


def encode_gif(
    width: int,
    height: int,
    indices: bytes,
    palette: bytes,
    interlaced: bool = False,
    local_palette: bool = False,
) -> bytes:
    """Minimal GIF89a encoder: one full-size frame over a 256-entry color
    table. `indices` is width*height palette indices row-major; `palette`
    is 768 bytes of RGB triples. ``interlaced`` stores rows in the
    standard 4-pass interlace order; ``local_palette`` attaches the table
    to the image descriptor instead of the screen (both are common in
    real crawls — multi-image GIFs almost always use local tables)."""
    if len(indices) != width * height:
        raise ValueError("indices length != width*height")
    if len(palette) != 256 * 3:
        raise ValueError("palette must be 256 RGB triples")
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    if local_palette:
        out.append(0x77)  # no GCT; color-resolution bits only
        out += b"\x00\x00"
    else:
        out.append(0xF7)  # GCT present, 8 bits/channel, 256 entries
        out += b"\x00\x00"  # background index, aspect
        out += palette
    out += b"\x2c" + b"\x00\x00\x00\x00"  # image descriptor at (0,0)
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append((0x80 if local_palette else 0) | (0x40 if interlaced else 0) | (0x07 if local_palette else 0))
    if local_palette:
        out += palette
    out.append(8)  # LZW min code size
    if interlaced:
        indices = b"".join(
            indices[y * width : (y + 1) * width]
            for y in _gif_interlaced_rows(height)
        )
    comp = _gif_lzw_encode(indices, 8)
    for i in range(0, len(comp), 255):
        block = comp[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator, trailer
    return bytes(out)


def decode_gif_pixels(payload: bytes) -> tuple[int, int, bytes, bytes]:
    """REAL GIF pixel decode (first frame): returns (width, height,
    indices, palette). Pure stdlib — container walk + variable-width
    LZW, 4-pass deinterlace, local color tables (which override the
    global one, per spec)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    pos = 13
    palette = b""
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = payload[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        flags = payload[pos + 9]
        pos += 10
        if flags & 0x80:  # local color table overrides the global one
            n = 2 << (flags & 0x07)
            palette = payload[pos : pos + 3 * n]
            pos += 3 * n
        min_code = payload[pos]
        pos += 1
        comp = bytearray()
        while payload[pos] != 0:
            ln = payload[pos]
            comp += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        indices = _gif_lzw_decode(bytes(comp), min_code)
        if len(indices) < w * h:
            raise ValueError("LZW stream shorter than frame")
        indices = indices[: w * h]
        if flags & 0x40:  # 4-pass deinterlace: stream order -> row order
            rows = bytearray(w * h)
            for stream_i, y in enumerate(_gif_interlaced_rows(h)):
                rows[y * w : (y + 1) * w] = indices[
                    stream_i * w : (stream_i + 1) * w
                ]
            indices = bytes(rows)
        return w, h, indices, palette
    raise ValueError("GIF contains no image frame")


def decode_bmp_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL BMP pixel decode — uncompressed (BI_RGB) 24-bit BGR and
    8-bit palette BITMAPINFOHEADER files, the two shapes that actually
    occur in crawls. Returns (width, height, 3, raw RGB) in top-down
    row order regardless of the file's bottom-up/top-down storage
    (negative height = top-down, per the DIB spec). Row padding to
    4-byte boundaries is stripped; BGR flips to RGB — both as numpy
    slice views, no per-pixel Python. Raises ValueError for non-BMP/
    corrupt payloads and NotImplementedError for compressed (RLE) or
    other depths."""
    import struct

    import numpy as np

    p = payload or b""
    if len(p) < 54 or p[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack("<I", p[10:14])
    (dib_size,) = struct.unpack("<I", p[14:18])
    if dib_size == 12:
        raise NotImplementedError("BITMAPCOREHEADER BMP unsupported")
    if dib_size < 40:
        raise ValueError("bad BMP DIB header size")
    w, h_signed = struct.unpack("<ii", p[18:26])
    (bpp,) = struct.unpack("<H", p[28:30])
    (compression,) = struct.unpack("<I", p[30:34])
    (clr_used,) = struct.unpack("<I", p[46:50])
    if compression != 0:
        raise NotImplementedError(f"compressed BMP (method {compression})")
    if bpp not in (8, 24):
        raise NotImplementedError(f"{bpp}-bit BMP unsupported")
    top_down = h_signed < 0
    h = abs(h_signed)
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    row_bytes = (w * (bpp // 8) + 3) & ~3
    data = p[data_off : data_off + row_bytes * h]
    if len(data) < row_bytes * h:
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(data, dtype=np.uint8).reshape(h, row_bytes)
    if not top_down:
        rows = rows[::-1]
    if bpp == 24:
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        return int(w), int(h), 3, np.ascontiguousarray(bgr[:, :, ::-1]).tobytes()
    n_colors = clr_used or 256
    pal_at = 14 + dib_size
    pal = np.frombuffer(
        p[pal_at : pal_at + 4 * n_colors], dtype=np.uint8
    ).reshape(-1, 4)
    if pal.shape[0] < n_colors:
        raise ValueError("BMP palette truncated")
    idx = rows[:, :w]
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("BMP palette index out of range")
    rgb = pal[:, 2::-1][idx.ravel()]  # BGRA entries -> RGB gather
    return int(w), int(h), 3, rgb.tobytes()


def encode_bmp(
    width: int,
    height: int,
    raw_rgb: bytes,
    top_down: bool = False,
) -> bytes:
    """Encode row-major RGB as an uncompressed 24-bit BMP
    (BITMAPINFOHEADER, padded rows, bottom-up by default like every
    real writer; ``top_down=True`` stores a negative height). Fixture
    twin of ``decode_bmp_pixels``."""
    import struct

    import numpy as np

    if len(raw_rgb) != width * height * 3:
        raise ValueError("raw buffer size does not match dimensions")
    row_bytes = (width * 3 + 3) & ~3
    a = np.frombuffer(raw_rgb, dtype=np.uint8).reshape(height, width, 3)
    rows = np.zeros((height, row_bytes), dtype=np.uint8)
    rows[:, : width * 3] = a[:, :, ::-1].reshape(height, width * 3)
    if not top_down:
        rows = rows[::-1]
    data = rows.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII",
        40,
        width,
        -height if top_down else height,
        1,
        24,
        0,
        len(data),
        2835,
        2835,
        0,
        0,
    )
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    return header + info + data


def gif_probe(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL GIF pixel probe via mapInPandas: decodes the first frame
    through the variable-width LZW path and reports dimensions, the
    top-left palette index with its RGB, and the sum of ALL frame
    indices — a whole-frame checksum that only matches an oracle if
    every decoded pixel is correct, not just the header fields."""

    def rows_of(_id, payload):
        w, h, idx, pal = decode_gif_pixels(payload)
        p0 = idx[0]
        yield (
            _id, w, h, w * h, p0,
            pal[3 * p0], pal[3 * p0 + 1], pal[3 * p0 + 2], sum(idx),
        )

    return map_payloads(
        df, id_col, payload_col,
        "id long, width int, height int, n_px int, first_idx int,"
        " first_r int, first_g int, first_b int, px_index_sum long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# JPEG baseline codec (ITU-T T.81) — pure numpy, grayscale
# ---------------------------------------------------------------------------

# Zig-zag scan order: position k of the scan reads flattened index
# _JPEG_ZIGZAG[k] of the row-major 8x8 block (T.81 Figure 5).
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.1 luminance quantization table (row-major).
_JPEG_STD_QT = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Annex K.2 chrominance quantization table (row-major).
_JPEG_STD_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3.3 standard luminance Huffman tables: BITS (count of codes of
# each length 1..16) and HUFFVAL (symbols in code order).
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Progressive AC table for the ENCODER: the baseline Annex K.3.3 table
# has no EOBn symbols (r<15, s=0 with r>0), which progressive AC scans
# require — so the progressive scans carry a flat canonical table giving
# every run/size symbol with s <= 10 (16*11 = 176 symbols) an 8-bit
# code. Legal (codes 0..175, the all-ones 8-bit code unused), trivially
# decodable, and ~suboptimal only in compression ratio, never
# correctness — the decoder reads whatever DHT the file defines.
_JPEG_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_PROG_AC_VALS = [(r << 4) | s for r in range(16) for s in range(11)]

_dct_cache: dict[int, object] = {}


def _dct_matrix():
    """Orthonormal 8-point DCT-II matrix C: dct2(A) = C @ A @ C.T and
    idct2(X) = C.T @ X @ C (C is orthogonal)."""
    import math

    import numpy as np

    if "C" not in _dct_cache:
        c = np.zeros((8, 8))
        for k in range(8):
            s = math.sqrt(0.125) if k == 0 else 0.5
            for n in range(8):
                c[k, n] = s * math.cos(math.pi * k * (2 * n + 1) / 16.0)
        _dct_cache["C"] = c
    return _dct_cache["C"]


def _dct_sandwich(a, x):
    """``a @ x @ a.T`` for an 8x8 ``a`` over a stack ``x`` of 8x8 blocks,
    every 8-term dot summed left to right with separate multiplies and
    adds. matmul would hand this to BLAS, whose per-CPU kernel may fuse
    multiply-adds or reorder the sum and so flip a rounded sample between
    hosts; numpy's elementwise ufuncs never fuse. (A ``.sum(axis=-2)``
    reduce is deterministic too but pairs the terms differently.)"""

    def left(y):
        t = a[:, 0, None] * y[..., 0:1, :]
        for n in range(1, 8):
            t += a[:, n, None] * y[..., n : n + 1, :]
        return t

    return left(left(x).swapaxes(-1, -2)).swapaxes(-1, -2)


def jpeg_qtable(quality: int) -> list[int]:
    """Scale the Annex K.1 luminance table by the libjpeg quality
    convention: scale = 5000/q below 50 else 200-2q, entries clamped to
    [1, 255]. quality=50 is the unscaled standard table."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [max(1, min(255, (t * scale + 50) // 100)) for t in _JPEG_STD_QT]


_jpeg_huff_cache: dict = {}
_jpeg_prefix_cache: dict = {}


def _build_huffman_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C code assignment: symbol -> (code, length).

    Cached by table content: encoders call this once per image but the
    tables are almost always the standard Annex K sets, and building the
    dict was a measurable share of small-image encodes."""
    key = ("enc", bytes(bits), bytes(vals))
    cached = _jpeg_huff_cache.get(key)
    if cached is not None:
        return cached
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    _jpeg_huff_cache[key] = codes
    return codes


def _jpeg_entropy(w: _MsbBitWriter) -> bytes:
    """A scan's entropy-coded segment: ``w``'s bits padded with 1-bits
    (T.81 F.1.2.3), then every 0xFF byte stuffed as 0xFF00."""
    if w.nbits:
        w.write(0xFF, 8 - w.nbits)
    return bytes(w.out).replace(b"\xff", b"\xff\x00")


def _jpeg_category(v: int) -> int:
    """Bit category (SSSS) of a DC difference / AC coefficient."""
    return abs(v).bit_length()


def encode_jpeg(
    width: int,
    height: int,
    raw: bytes,
    quality: int = 90,
    qtable: list[int] | None = None,
    channels: int = 1,
    subsampling: str = "444",
    progressive: bool = False,
    scan_split: bool = False,
) -> bytes:
    """REAL baseline JPEG encoder (ITU-T T.81, SOF0) for 8-bit grayscale
    (``channels=1``) or RGB via YCbCr (``channels=3``, interleaved
    MCUs, Annex K.2 chroma quantization): level shift, 8x8 orthonormal
    DCT, half-away-from-zero quantization against ``qtable`` (row-major;
    default: Annex K.1 scaled by ``quality``), zig-zag scan, DC
    difference coding and run-length AC coding against the Annex K.3.3
    standard luminance Huffman tables, with byte stuffing. Output is a
    standard JFIF file any decoder reads.

    ``subsampling`` (color only): ``"444"`` (1x1 sampling, the exactness
    path), ``"422"`` (luma 2x1, chroma halved horizontally, 16x8 MCUs)
    or ``"420"`` (luma 2x2, chroma halved both ways, 16x16 MCUs — the
    dominant real-world format). Chroma planes are box-averaged before
    the DCT — over a region of constant color the average is exact, so
    flat-tile audits stay integer-exact end to end.

    ``progressive=True`` emits SOF2 with a libjpeg-style scan script
    exercising BOTH progressive dimensions (T.81 Annex G): successive
    approximation (every band lands at Al=1 and is refined by an Ah=1
    bitplane scan) and spectral selection (luma AC splits into a 1-5
    band and a 6-63 band). Coefficients are identical to the baseline
    output — progression changes transmission order, not values — so a
    correct decoder reproduces the baseline pixels bit for bit.

    Edge blocks replicate the last row/column (the common encoder
    padding; pixels outside the image are never emitted by the decoder).
    Deterministic byte-for-byte for a given input."""
    import struct

    import numpy as np

    if channels not in (1, 3):
        raise ValueError("channels must be 1 (grayscale) or 3 (RGB)")
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")
    if len(raw) != width * height * channels:
        raise ValueError("raw buffer size does not match dimensions")
    if width == 0 or height == 0:
        raise ValueError("empty image")
    # luma sampling factors; chroma is always 1x1
    hy, vy = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsampling]
    if channels == 1:
        hy = vy = 1
    qt = list(qtable) if qtable is not None else jpeg_qtable(quality)
    if len(qt) != 64 or not all(1 <= t <= 255 for t in qt):
        raise ValueError("qtable must be 64 entries in 1..255")
    # chroma table: explicit qtable applies to ALL components (the
    # exactness path); otherwise Annex K.2 scaled like K.1
    if qtable is not None:
        qt_c = qt
    else:
        scale = 5000 // quality if quality < 50 else 200 - 2 * quality
        qt_c = [
            max(1, min(255, (t * scale + 50) // 100)) for t in _JPEG_STD_QT_CHROMA
        ]

    img = np.frombuffer(raw, dtype=np.uint8).reshape(height, width, channels)
    if channels == 3:
        r = img[:, :, 0].astype(np.float64)
        g = img[:, :, 1].astype(np.float64)
        b = img[:, :, 2].astype(np.float64)
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        qts = [qt, qt_c, qt_c]
        factors = [(hy, vy), (1, 1), (1, 1)]
    else:
        planes = [img[:, :, 0].astype(np.float64)]
        qts = [qt]
        factors = [(1, 1)]

    # MCU grid covers the image at the LUMA sampling size (8*hy x 8*vy
    # pixels per MCU); every component pads to its own block grid
    mcux = (width + 8 * hy - 1) // (8 * hy)
    mcuy = (height + 8 * vy - 1) // (8 * vy)
    pw, ph = mcux * 8 * hy, mcuy * 8 * vy  # full-res padded dims
    c = _dct_matrix()
    quants = []
    for plane, q_tab, (fh, fv) in zip(planes, qts, factors):
        padded = np.empty((ph, pw), dtype=np.float64)
        padded[:height, :width] = plane
        if pw > width:
            padded[:height, width:] = plane[:, -1:]
        if ph > height:
            padded[height:, :] = padded[height - 1 : height, :]
        sx, sy = hy // fh, vy // fv  # chroma decimation ratios
        if sx > 1 or sy > 1:
            padded = padded.reshape(
                ph // sy, sy, pw // sx, sx
            ).mean(axis=(1, 3))
        cbh, cbw = mcuy * fv, mcux * fh  # component block grid
        padded = padded - 128.0
        blocks = padded.reshape(cbh, 8, cbw, 8).transpose(0, 2, 1, 3)
        # batched DCT C @ B @ C.T; golden byte-equality pins the output
        coef = _dct_sandwich(c, blocks)
        q = np.asarray(q_tab, dtype=np.float64).reshape(8, 8)
        ratio = coef / q
        quants.append(
            (np.sign(ratio) * np.floor(np.abs(ratio) + 0.5)).astype(np.int32)
        )

    # one standard luminance Huffman set serves every component (file-
    # defined tables, so any decoder reads it; slightly suboptimal for
    # chroma, irrelevant for correctness)
    dc_codes = _build_huffman_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    zz = np.asarray(_JPEG_ZIGZAG)
    comp_ids = [1, 2, 3][:channels]
    scans_out: list[tuple[bytes, bytes]] = []  # (SOS body, entropy)
    if not progressive and scan_split and channels == 3:
        # multi-scan sequential (T.81 B.2.3): one NON-interleaved scan
        # per component over its REAL block grid (no MCU padding), own
        # DC predictor chain per scan — the shape real encoders emit to
        # bound per-scan memory, and the decoder's multi-scan path's
        # fixture twin
        ac_codes = _build_huffman_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
        for ci in range(channels):
            writer = _MsbBitWriter()
            prev_dc = [0] * channels
            fh, fv = factors[ci]
            cw = (width * fh + hy - 1) // hy
            chh = (height * fv + vy - 1) // vy
            for by in range((chh + 7) // 8):
                for bx in range((cw + 7) // 8):
                    _jpeg_write_block(
                        writer, quants[ci][by, bx], ci, prev_dc,
                        zz, dc_codes, ac_codes,
                    )
            scans_out.append(
                (
                    bytes([1, comp_ids[ci], 0x00]) + b"\x00\x3f\x00",
                    _jpeg_entropy(writer),
                )
            )
    elif not progressive:
        ac_codes = _build_huffman_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
        writer = _MsbBitWriter()
        prev_dc = [0] * channels
        for my in range(mcuy):
            for mx in range(mcux):  # MCU = fh*fv blocks/component, T.81 A.2.3
                for comp in range(channels):
                    fh, fv = factors[comp]
                    for vi in range(fv):
                        for hi in range(fh):
                            _jpeg_write_block(
                                writer,
                                quants[comp][my * fv + vi, mx * fh + hi],
                                comp,
                                prev_dc,
                                zz,
                                dc_codes,
                                ac_codes,
                            )
        sos_comps = b"".join(bytes([cid, 0x00]) for cid in comp_ids)
        scans_out.append(
            (bytes([channels]) + sos_comps + b"\x00\x3f\x00", _jpeg_entropy(writer))
        )
    else:
        scans_out = _jpeg_progressive_scans(
            quants, factors, channels, comp_ids, width, height,
            hy, vy, mcux, mcuy, dc_codes, zz,
        )

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    # The SOI..DHT prefix depends only on (qt, qt_c, dims, channels,
    # sampling, progressive) — cache it: fixture lanes re-encode the same
    # shape thousands of times and rebuilt these segments per call.
    pkey = (
        bytes(qt),
        bytes(qt_c) if channels == 3 else None,
        channels, hy, vy, progressive, width, height,
    )
    prefix = _jpeg_prefix_cache.get(pkey)
    if prefix is None:
        zz_qt = bytes(qt[_JPEG_ZIGZAG[k]] for k in range(64))
        dqt = seg(0xFFDB, b"\x00" + zz_qt)  # table 0, zig-zag order
        if channels == 3:
            zz_qt_c = bytes(qt_c[_JPEG_ZIGZAG[k]] for k in range(64))
            dqt += seg(0xFFDB, b"\x01" + zz_qt_c)  # table 1 (chroma)
            sof_comps = (
                bytes([0x01, (hy << 4) | vy, 0x00]) + b"\x02\x11\x01\x03\x11\x01"
            )
        else:
            sof_comps = b"\x01\x11\x00"
        dht_dc = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        if progressive:
            dht_ac = (
                bytes([0x10]) + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS)
            )
        else:
            dht_ac = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        prefix = (
            b"\xff\xd8"  # SOI
            + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + dqt
            + seg(
                0xFFC2 if progressive else 0xFFC0,
                struct.pack(">BHHB", 8, height, width, channels) + sof_comps,
            )  # SOF2 / SOF0
            + seg(0xFFC4, dht_dc)
            + seg(0xFFC4, dht_ac)
        )
        if len(_jpeg_prefix_cache) >= 256:  # bound: tests sweep many shapes
            _jpeg_prefix_cache.clear()
        _jpeg_prefix_cache[pkey] = prefix
    return (
        prefix
        + b"".join(
            seg(0xFFDA, body) + entropy for body, entropy in scans_out
        )
        + b"\xff\xd9"  # EOI
    )


def _jpeg_progressive_scans(
    quants,
    factors,
    channels: int,
    comp_ids: list[int],
    width: int,
    height: int,
    hmax: int,
    vmax: int,
    mcux: int,
    mcuy: int,
    dc_codes: dict,
    zz,
) -> list[tuple[bytes, bytes]]:
    """Entropy-code the quantized blocks as a progressive scan script
    (T.81 Annex G, libjpeg jcphuff conventions): interleaved DC first at
    Al=1, per-component AC first scans at Al=1 (luma split into 1-5 and
    6-63 spectral bands), then the DC and AC Ah=1->Al=0 refinement
    bitplanes. Returns [(SOS body, stuffed entropy bytes), ...]."""
    acp = _build_huffman_codes(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)

    def dc_sos(ah: int, al: int) -> bytes:
        return (
            bytes([channels])
            + b"".join(bytes([cid, 0x00]) for cid in comp_ids)
            + bytes([0, 0, (ah << 4) | al])
        )

    def mcu_dc_blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(channels):
                    fh, fv = factors[ci]
                    for vi in range(fv):
                        for hi in range(fh):
                            yield ci, int(
                                quants[ci][my * fv + vi, mx * fh + hi, 0, 0]
                            )

    def scan_blocks(ci):
        # the REAL component grid (non-interleaved scans never carry
        # MCU padding blocks); plain int lists for the coefficient loops
        fh, fv = factors[ci]
        cw = (width * fh + hmax - 1) // hmax
        chh = (height * fv + vmax - 1) // vmax
        for by in range((chh + 7) // 8):
            for bx in range((cw + 7) // 8):
                yield quants[ci][by, bx].reshape(64)[zz].tolist()

    scans: list[tuple[bytes, bytes]] = []
    # ---- DC first scan: difference chain on the Al=1 point transform
    w = _MsbBitWriter()
    prev = [0] * channels
    for ci, dc in mcu_dc_blocks():
        v = dc >> 1  # arithmetic shift per T.81 G.1.2.1
        diff = v - prev[ci]
        prev[ci] = v
        s = _jpeg_category(diff)
        code, ln = dc_codes[s]
        w.write(code, ln)
        if s:
            w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    scans.append((dc_sos(0, 1), _jpeg_entropy(w)))

    bands = []
    for ci in range(channels):
        bands += [(ci, 1, 5), (ci, 6, 63)] if ci == 0 else [(ci, 1, 63)]

    # ---- AC first scans (Al=1): run/size + EOBn end-of-band runs
    for ci, ss, se in bands:
        w = _MsbBitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                code, ln = acp[r << 4]
                w.write(code, ln)
                if r:
                    w.write(eobrun - (1 << r), r)
                eobrun = 0

        for zig in scan_blocks(ci):
            run = 0
            for k in range(ss, se + 1):
                t = zig[k]
                a = abs(t) >> 1
                if a == 0:
                    run += 1
                    continue
                flush_eob()
                while run > 15:
                    code, ln = acp[0xF0]
                    w.write(code, ln)
                    run -= 16
                s = a.bit_length()
                code, ln = acp[(run << 4) | s]
                w.write(code, ln)
                v = a if t > 0 else -a
                w.write(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if run > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        scans.append((bytes([1, comp_ids[ci], 0x00, ss, se, 0x01]), _jpeg_entropy(w)))

    # ---- DC refinement: one raw bit per block (no Huffman)
    w = _MsbBitWriter()
    for _ci, dc in mcu_dc_blocks():
        w.write(dc & 1, 1)
    scans.append((dc_sos(1, 0), _jpeg_entropy(w)))

    # ---- AC refinement scans (Ah=1, Al=0): correction bits buffered
    # per libjpeg jcphuff figure G.7 semantics
    for ci, ss, se in bands:
        w = _MsbBitWriter()
        eobrun = 0
        pend: list[int] = []  # correction bits deferred across an EOB run

        def flush_eob():
            nonlocal eobrun, pend
            if eobrun:
                r = eobrun.bit_length() - 1
                code, ln = acp[r << 4]
                w.write(code, ln)
                if r:
                    w.write(eobrun - (1 << r), r)
                for b in pend:
                    w.write(b, 1)
                pend = []
                eobrun = 0

        for zig in scan_blocks(ci):
            absv = [abs(t) for t in zig]
            eobpos = 0  # last NEWLY-nonzero position in the band
            for k in range(ss, se + 1):
                if absv[k] == 1:
                    eobpos = k
            r = 0
            br: list[int] = []  # this block's buffered correction bits
            for k in range(ss, se + 1):
                temp = absv[k]
                if temp == 0:
                    r += 1
                    continue
                while r > 15 and k <= eobpos:
                    flush_eob()
                    code, ln = acp[0xF0]
                    w.write(code, ln)
                    r -= 16
                    for b in br:
                        w.write(b, 1)
                    br = []
                if temp > 1:  # history coefficient: correction bit only
                    br.append(temp & 1)
                    continue
                flush_eob()
                code, ln = acp[(r << 4) | 1]
                w.write(code, ln)
                w.write(1 if zig[k] > 0 else 0, 1)
                for b in br:
                    w.write(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                pend.extend(br)
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        scans.append((bytes([1, comp_ids[ci], 0x00, ss, se, 0x10]), _jpeg_entropy(w)))
    return scans


def _jpeg_write_block(
    writer: _MsbBitWriter,
    block,
    comp: int,
    prev_dc: list[int],
    zz,
    dc_codes: dict,
    ac_codes: dict,
) -> None:
    """Entropy-code one quantized 8x8 block (DC diff + RLE AC).
    Works on plain Python ints (one ``tolist`` per block) — per-element
    numpy scalar reads and the np.any/np.nonzero last-coefficient probe
    were the dominant cost of small-image encodes."""
    zig = block.reshape(64)[zz].tolist()
    dc = zig[0]
    diff = dc - prev_dc[comp]
    prev_dc[comp] = dc
    s = abs(diff).bit_length()
    code, length = dc_codes[s]
    write = writer.write
    write(code, length)
    if s:
        write(diff if diff > 0 else diff + (1 << s) - 1, s)
    last_nz = 63
    while last_nz > 0 and zig[last_nz] == 0:
        last_nz -= 1
    run = 0
    for k in range(1, 64):
        v = zig[k]
        if v == 0:
            if k > last_nz:
                code, length = ac_codes[0x00]  # EOB
                write(code, length)
                break
            run += 1
            if run == 16:
                code, length = ac_codes[0xF0]  # ZRL
                write(code, length)
                run = 0
            continue
        s = abs(v).bit_length()
        code, length = ac_codes[(run << 4) | s]
        write(code, length)
        write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0


class _JpegHuffDecode:
    """Canonical Huffman decode tables (T.81 F.16) plus an 8-bit prefix
    LUT: ``lut[p]`` holds ``(symbol << 5) | code_length`` when the top 8
    bits ``p`` start with a complete code of length <= 8, else -1.
    ``mincode``/``maxcode``/``valptr`` (1-indexed by length, maxcode -1
    for empty lengths) drive the exact canonical walk for longer codes.
    Decodes the identical code->symbol mapping as the old
    (length, code)->symbol dict — only the lookup machinery changed."""

    __slots__ = ("lut", "mincode", "maxcode", "valptr", "vals")

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.vals = list(vals)
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.lut = [-1] * 256
        code, k = 0, 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                # the LUT holds codes <= 8 bits: each needs its symbol
                # and a slot inside the 8-bit prefix space
                if length <= 8 and (code + n > 1 << length or k + n > len(vals)):
                    raise ValueError("corrupt JPEG Huffman table")
                self.valptr[length] = k
                self.mincode[length] = code
                for _ in range(n):
                    if length <= 8:
                        sym_entry = (vals[k] << 5) | length
                        base = code << (8 - length)
                        for suffix in range(1 << (8 - length)):
                            self.lut[base | suffix] = sym_entry
                    code += 1
                    k += 1
                self.maxcode[length] = code - 1
            code <<= 1


def _build_huffman_decode(bits: list[int], vals: list[int]) -> _JpegHuffDecode:
    """Decode-table builder (inverse of _build_huffman_codes), cached by
    table content like the encode side."""
    key = ("dec", bytes(bits), bytes(vals))
    cached = _jpeg_huff_cache.get(key)
    if cached is None:
        cached = _jpeg_huff_cache[key] = _JpegHuffDecode(bits, vals)
    return cached


class _BitReader:
    """MSB-first reader over a de-stuffed JPEG entropy segment, with a
    bit accumulator (int-aligned fills instead of per-bit byte math) and
    LUT/canonical Huffman decode. Raises the same errors at the same
    consumption points as the original per-bit reader: consuming past
    the real end is "truncated"; a 16-bit walk with no code match is
    "invalid"."""

    __slots__ = ("data", "nbytes", "byte_i", "acc", "navail")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.nbytes = len(data)
        self.byte_i = 0  # next unread byte
        self.acc = 0  # LSB-aligned buffer of navail unconsumed bits
        self.navail = 0

    def _fill(self) -> None:
        # top up to ~24 bits so a 16-bit Huffman peek never re-fills;
        # drop already-consumed high bits so acc stays a small int
        data, i, n = self.data, self.byte_i, self.nbytes
        navail = self.navail
        acc = self.acc & ((1 << navail) - 1)
        while navail <= 16 and i < n:
            acc = (acc << 8) | data[i]
            i += 1
            navail += 8
        self.acc, self.navail, self.byte_i = acc, navail, i

    def read_bit(self) -> int:
        if not self.navail:
            if self.byte_i >= self.nbytes:
                raise ValueError("JPEG entropy stream truncated")
            self.acc = self.data[self.byte_i]
            self.byte_i += 1
            self.navail = 8
        self.navail -= 1
        return (self.acc >> self.navail) & 1

    def read_bits(self, n: int) -> int:
        if self.navail < n:
            self._fill()
            if self.navail < n:
                raise ValueError("JPEG entropy stream truncated")
        self.navail -= n
        v = (self.acc >> self.navail) & ((1 << n) - 1)
        self.acc &= (1 << self.navail) - 1  # keep the int small
        return v

    def read_huffman(self, table: _JpegHuffDecode) -> int:
        navail = self.navail
        if navail < 16:
            self._fill()
            navail = self.navail
        acc = self.acc
        if navail >= 16:
            e = table.lut[(acc >> (navail - 8)) & 0xFF]
            if e >= 0:
                self.navail = navail - (e & 31)
                return e >> 5
            maxcode = table.maxcode
            for length in range(9, 17):
                code = (acc >> (navail - length)) & ((1 << length) - 1)
                if code <= maxcode[length] and code >= table.mincode[length]:
                    self.navail = navail - length
                    return table.vals[
                        table.valptr[length] + code - table.mincode[length]
                    ]
            raise ValueError("invalid JPEG Huffman code")
        # end-of-segment tail: per-bit walk, original truncation semantics
        mincode, maxcode = table.mincode, table.maxcode
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            if mincode[length] <= code <= maxcode[length]:
                return table.vals[table.valptr[length] + code - mincode[length]]
        raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 F.12: map s received bits to the signed coefficient value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_seq_block(reader, row, dc_t, ac_t, prev_dc, si) -> None:
    """Decode one FULL sequential data unit (DC difference + run/size
    AC coefficients, T.81 F.2.2) into ``row`` — the block's 64-entry
    zigzag-indexed coefficient slice (a plain Python list: per-item
    numpy scalar stores were the hot cost). Shared by the single-
    interleaved-scan baseline path and the multi-scan sequential path
    (per-scan DC predictor chains, reset at restart intervals by the
    caller)."""
    read_huffman, read_bits = reader.read_huffman, reader.read_bits
    s = read_huffman(dc_t)
    if s:
        v = read_bits(s)
        prev_dc[si] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
    row[0] = prev_dc[si]
    k = 1
    while k < 64:
        sym = read_huffman(ac_t)
        if sym == 0x00:  # EOB
            break
        run, s = sym >> 4, sym & 0x0F
        if s == 0:
            if run != 15:
                raise ValueError("bad JPEG AC symbol")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("JPEG AC run overflows block")
        v = read_bits(s)
        row[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        k += 1


def _jpeg_dc_unit(reader, row, bidx, dc_t, pred, si, ah, al) -> None:
    """Decode one block's DC for a progressive DC scan (T.81 G.2):
    first scan (Ah=0) runs the usual difference chain on the
    point-transformed value and stores it at precision Al; refinement
    scans carry exactly one raw bit per block, OR-ed in at bit Al
    (two's complement — works for negative DC by construction).
    ``row`` is the component's list-of-lists coefficient plane."""
    if ah == 0:
        s = reader.read_huffman(dc_t)
        diff = _jpeg_extend(reader.read_bits(s), s) if s else 0
        pred[si] += diff
        row[bidx][0] = pred[si] << al
    elif reader.read_bit():
        row[bidx][0] |= 1 << al


def _jpeg_ac_first(reader, ac_t, row, ss, se, al, eob) -> None:
    """Decode one block's AC band for a progressive first scan (Ah=0,
    T.81 G.2.2): run/size coding as baseline plus EOBn symbols — an
    end-of-band RUN spanning (1<<r)+bits whole blocks, tracked across
    calls in the one-element ``eob`` list. Coefficients land at
    precision Al in ZIGZAG order (``row`` is the block's 64-entry
    zigzag-indexed slice)."""
    if eob[0] > 0:
        eob[0] -= 1
        return
    k = ss
    while k <= se:
        sym = reader.read_huffman(ac_t)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r != 15:
                eob[0] = (1 << r) - 1  # minus this block
                if r:
                    eob[0] += reader.read_bits(r)
                return
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("JPEG AC run overflows band")
        row[k] = _jpeg_extend(reader.read_bits(s), s) << al
        k += 1


def _jpeg_ac_refine(reader, ac_t, row, ss, se, al, eob) -> None:
    """Decode one block's AC band for a progressive refinement scan
    (Ah=Al+1, T.81 G.1.2.3 figure G.7 / libjpeg jdphuff convention):
    every already-nonzero coefficient passed over consumes one
    correction bit (magnitude grows by 1<<Al if the bit is set and not
    already present); run lengths count ZERO-history positions only;
    s=1 symbols introduce a new ±1<<Al coefficient; EOBn runs finish
    the band of whole blocks while still draining correction bits."""
    p1 = 1 << al
    k = ss
    if eob[0] == 0:
        while k <= se:
            sym = reader.read_huffman(ac_t)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r != 15:
                    eob[0] = 1 << r
                    if r:
                        eob[0] += reader.read_bits(r)
                    break
                val = 0  # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("bad JPEG AC refinement symbol")
                val = p1 if reader.read_bit() else -p1
            while k <= se:
                v = row[k]
                if v != 0:
                    if reader.read_bit() and (abs(v) & p1) == 0:
                        row[k] = v + p1 if v > 0 else v - p1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                row[k] = val
            k += 1
    if eob[0] > 0:
        while k <= se:
            v = row[k]
            if v != 0:
                if reader.read_bit() and (abs(v) & p1) == 0:
                    row[k] = v + p1 if v > 0 else v - p1
            k += 1
        eob[0] -= 1


def decode_jpeg_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL baseline JPEG decoder (ITU-T T.81, SOF0) for 8-bit grayscale
    and YCbCr color at ANY baseline sampling (4:4:4, 4:2:2, 4:2:0 and
    every integer-ratio h/v in 1..4): marker walk (DQT in zig-zag order,
    DHT, optional DRI with RSTn handling), Huffman entropy decode of the
    interleaved MCUs (h*v blocks per component per MCU, T.81 A.2.3) with
    byte-unstuffing and per-component DC predictors, dequantize, batched
    orthonormal IDCT over all blocks of each component at once (numpy
    einsum), pixel-replication chroma upsampling (libjpeg's -nosmooth
    convention — over the constant-chroma regions the audits use it is
    exact), YCbCr→RGB for color, level shift, clamp, crop to the SOF
    dimensions. Returns (width, height, channels, raw) with ``raw``
    row-major ``width*height*channels`` bytes — the decode_png_pixels
    convention.

    Raises ValueError for non-JPEG, truncated or corrupt bytes and
    NotImplementedError for the JPEG features that genuinely need
    libjpeg (arithmetic coding, 12-bit precision, lossless/hierarchical)
    — the same honest capability surface as the PNG/GIF decoders."""
    import struct

    import numpy as np

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict[tuple[int, int], int]] = {}
    ac_tables: dict[int, dict[tuple[int, int], int]] = {}
    width = height = -1
    comps: list[dict] = []  # SOF order: {id, qt, h, v}
    progressive = False
    restart_interval = 0
    # every SOS: component selection with table SNAPSHOTS (tables may be
    # redefined between scans), band, approximation, de-stuffed entropy
    scans: list[dict] = []
    i = 2
    while i + 2 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0xC3 or (
            0xC5 <= marker <= 0xCF and marker not in (0xC8, 0xCC)
        ):
            raise NotImplementedError(
                "lossless/hierarchical/arithmetic JPEG needs libjpeg"
            )
        if marker == 0xCC or marker == 0xC8:
            raise NotImplementedError("arithmetic-coded JPEG unsupported")
        if i + 4 > len(payload):
            raise ValueError("JPEG truncated in a marker segment")
        (size,) = struct.unpack(">H", payload[i + 2 : i + 4])
        body = payload[i + 4 : i + 2 + size]
        if marker == 0xDB:  # DQT — may carry several tables
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq not in (0, 1):
                    raise ValueError("bad DQT precision")
                if j + 65 + 64 * pq > len(body):
                    raise ValueError("JPEG DQT truncated")
                if pq:  # 16-bit table values, big-endian
                    zz_qt = [
                        int.from_bytes(
                            body[j + 1 + 2 * k : j + 3 + 2 * k], "big"
                        )
                        for k in range(64)
                    ]
                    j += 129
                else:
                    zz_qt = list(body[j + 1 : j + 65])
                    j += 65
                qt = [0] * 64
                for k in range(64):
                    qt[_JPEG_ZIGZAG[k]] = zz_qt[k]
                qtables[tq] = qt
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive.
            # An 8-bit SOF1 stream is structurally identical to baseline
            # (extended mode only ADDS 12-bit precision — rejected below —
            # and 4 Huffman-table slots, which the table dicts already
            # hold), so it decodes on the baseline path; libjpeg does the
            # same (T.81 Annex F vs B.2.2 differ only in those limits).
            progressive = marker == 0xC2
            if len(body) < 6:
                raise ValueError("JPEG SOF truncated")
            _prec, height, width, nf = struct.unpack(">BHHB", body[:6])
            if _prec != 8:
                raise NotImplementedError("12-bit JPEG unsupported")
            if nf not in (1, 3):
                raise NotImplementedError(
                    f"{nf}-component JPEG unsupported (grayscale or YCbCr)"
                )
            for ci in range(nf):
                cid, sampling, tq = body[6 + 3 * ci : 9 + 3 * ci]
                ch_, cv_ = sampling >> 4, sampling & 0x0F
                if not (1 <= ch_ <= 4 and 1 <= cv_ <= 4):
                    raise ValueError("JPEG sampling factors out of range")
                comps.append({"id": cid, "qt": tq, "h": ch_, "v": cv_})
        elif marker == 0xC4:  # DHT — may carry several tables
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1 : j + 17])
                if len(bits) < 16:
                    raise ValueError("JPEG DHT truncated")
                nv = sum(bits)
                vals = list(body[j + 17 : j + 17 + nv])
                if tc == 0:
                    dc_tables[th] = _build_huffman_decode(bits, vals)
                else:
                    ac_tables[th] = _build_huffman_decode(bits, vals)
                j += 17 + nv
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("JPEG DRI truncated")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: header, then de-stuffed entropy
            ns = body[0] if body else 0
            if not ns or len(body) < 4 + 2 * ns:
                raise ValueError("JPEG SOS header truncated or empty")
            by_id = {c["id"]: idx for idx, c in enumerate(comps)}
            sel = []
            for si in range(ns):
                cs, tables = body[1 + 2 * si], body[2 + 2 * si]
                if cs not in by_id:
                    raise ValueError("JPEG scan names unknown component")
                sel.append(
                    (
                        by_id[cs],
                        dc_tables.get(tables >> 4),
                        ac_tables.get(tables & 0x0F),
                    )
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            approx = body[3 + 2 * ns]
            # 0xFF00 -> 0xFF; RSTn split into restart segments (DC
            # predictors and EOB runs reset at each)
            segments: list[bytes] = []
            cur = bytearray()
            j = i + 2 + size
            while j < len(payload):
                b = payload[j]
                if b == 0xFF:
                    nxt = payload[j + 1] if j + 1 < len(payload) else 0xD9
                    if nxt == 0x00:
                        cur.append(0xFF)
                        j += 2
                        continue
                    if nxt == 0xFF:
                        j += 1
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # RSTn
                        segments.append(bytes(cur))
                        cur = bytearray()
                        j += 2
                        continue
                    break  # next marker
                cur.append(b)
                j += 1
            segments.append(bytes(cur))
            scans.append(
                {
                    "sel": sel,
                    "ss": ss,
                    "se": se,
                    "ah": approx >> 4,
                    "al": approx & 0x0F,
                    "segments": segments,
                    "dri": restart_interval,
                }
            )
            i = j
            continue
        i += 2 + size
    if not scans or width <= 0:
        raise ValueError("JPEG missing SOF/SOS")
    for comp in comps:
        if comp["qt"] not in qtables:
            raise ValueError("JPEG missing quant table")

    # MCU geometry per T.81 A.2.3: the grid is sized by the MAX sampling
    # factors; each component contributes h*v blocks per MCU into its
    # own block grid (upsampled back to full resolution after the IDCT)
    hmax = max(comp["h"] for comp in comps)
    vmax = max(comp["v"] for comp in comps)
    for comp in comps:
        if hmax % comp["h"] or vmax % comp["v"]:
            raise NotImplementedError(
                "non-integer chroma upsampling ratio unsupported"
            )
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    total_mcus = mcux * mcuy
    for comp in comps:
        comp["bw"] = mcux * comp["h"]  # blocks across the PADDED grid
        comp["bh"] = mcuy * comp["v"]
        # non-interleaved scans carry only the REAL block grid
        # (T.81 A.2.2: ceil of the component's true dims), not the
        # MCU-padded one
        cw = (width * comp["h"] + hmax - 1) // hmax
        chh = (height * comp["v"] + vmax - 1) // vmax
        comp["sw"] = (cw + 7) // 8
        comp["sh"] = (chh + 7) // 8
    # coefficients accumulate across scans in ZIGZAG order (progressive
    # bands are zigzag ranges); integer-exact until dequantization.
    # Plain nested lists: the entropy decode writes one coefficient at a
    # time, and Python-list item stores are ~10x cheaper than numpy
    # scalar stores; converted to an ndarray once, after all scans.
    quant = [
        [[0] * 64 for _ in range(comp["bh"] * comp["bw"])]
        for comp in comps
    ]

    if not progressive:
        # Sequential streams may carry ONE interleaved scan (baseline's
        # common shape) or SEVERAL scans each covering a disjoint
        # component subset (T.81 B.2.3 "multi-scan sequential" — real
        # encoders emit Y then Cb then Cr to cap per-scan buffer size).
        # A multi-component scan walks the frame MCU grid; a single-
        # component scan walks that component's REAL block raster
        # (sw x sh, no MCU padding — same rule as progressive scans).
        covered: list[int] = []
        for scan in scans:
            sel = scan["sel"]
            for _ci, dc_t, ac_t in sel:
                if dc_t is None or ac_t is None:
                    raise ValueError("JPEG missing Huffman table for scan")
            for ci, _d, _a in sel:
                if ci in covered:
                    raise ValueError("component in two sequential scans")
                covered.append(ci)
            interleaved = len(sel) > 1
            total_units = (
                total_mcus
                if interleaved
                else comps[sel[0][0]]["sw"] * comps[sel[0][0]]["sh"]
            )
            per_segment = scan["dri"] if scan["dri"] else total_units
            unit = 0
            for seg_bytes in scan["segments"]:
                reader = _BitReader(seg_bytes)
                prev_dc = [0] * len(sel)
                for _ in range(min(per_segment, total_units - unit)):
                    if interleaved:
                        my, mx = divmod(unit, mcux)
                        for si, (ci, dc_t, ac_t) in enumerate(sel):
                            comp = comps[ci]
                            for vi in range(comp["v"]):
                                for hi in range(comp["h"]):
                                    bidx = (
                                        my * comp["v"] + vi
                                    ) * comp["bw"] + (mx * comp["h"] + hi)
                                    _jpeg_seq_block(
                                        reader, quant[ci][bidx],
                                        dc_t, ac_t, prev_dc, si,
                                    )
                    else:
                        ci, dc_t, ac_t = sel[0]
                        comp = comps[ci]
                        by, bx = divmod(unit, comp["sw"])
                        _jpeg_seq_block(
                            reader, quant[ci][by * comp["bw"] + bx],
                            dc_t, ac_t, prev_dc, 0,
                        )
                    unit += 1
                if unit >= total_units:
                    break
            if unit != total_units:
                raise ValueError("JPEG entropy stream ended early")
        if sorted(covered) != list(range(len(comps))):
            raise ValueError("sequential scans do not cover all components")
    else:
        # SOF2: every scan deposits one band/precision slice into the
        # shared coefficient planes (T.81 G.2); DC scans may interleave
        # components, AC scans are single-component by definition
        for scan in scans:
            sel, ss, se = scan["sel"], scan["ss"], scan["se"]
            ah, al = scan["ah"], scan["al"]
            interleaved = len(sel) > 1
            if ss == 0 and se != 0:
                raise ValueError("progressive scan mixes DC and AC")
            if se > 63:
                raise ValueError("progressive scan band past coefficient 63")
            if ss > 0 and interleaved:
                raise ValueError("progressive AC scan must be single-component")
            if ss == 0:
                if ah == 0 and any(dc_t is None for _c, dc_t, _a in sel):
                    raise ValueError("JPEG missing DC Huffman table")
                total_units = (
                    total_mcus
                    if interleaved
                    else comps[sel[0][0]]["sw"] * comps[sel[0][0]]["sh"]
                )
            else:
                if sel[0][2] is None:
                    raise ValueError("JPEG missing AC Huffman table")
                total_units = comps[sel[0][0]]["sw"] * comps[sel[0][0]]["sh"]
            per_segment = scan["dri"] if scan["dri"] else total_units
            unit = 0
            for seg_bytes in scan["segments"]:
                reader = _BitReader(seg_bytes)
                pred = [0] * len(sel)
                eob = [0]
                for _ in range(min(per_segment, total_units - unit)):
                    if ss == 0 and interleaved:
                        my, mx = divmod(unit, mcux)
                        for si, (ci, dc_t, _ac) in enumerate(sel):
                            comp = comps[ci]
                            for vi in range(comp["v"]):
                                for hi in range(comp["h"]):
                                    bidx = (
                                        my * comp["v"] + vi
                                    ) * comp["bw"] + (mx * comp["h"] + hi)
                                    _jpeg_dc_unit(
                                        reader, quant[ci], bidx,
                                        dc_t, pred, si, ah, al,
                                    )
                    else:
                        ci, dc_t, ac_t = sel[0]
                        comp = comps[ci]
                        by, bx = divmod(unit, comp["sw"])
                        row = quant[ci][by * comp["bw"] + bx]
                        if ss == 0:
                            _jpeg_dc_unit(
                                reader, quant[ci], by * comp["bw"] + bx,
                                dc_t, pred, 0, ah, al,
                            )
                        elif ah == 0:
                            _jpeg_ac_first(reader, ac_t, row, ss, se, al, eob)
                        else:
                            _jpeg_ac_refine(reader, ac_t, row, ss, se, al, eob)
                    unit += 1
                if unit >= total_units:
                    break
            if unit != total_units:
                raise ValueError("JPEG entropy stream ended early")

    c = _dct_matrix()
    zzarr = np.asarray(_JPEG_ZIGZAG)
    nc = len(comps)
    planes = []
    for ci, comp in enumerate(comps):
        q = np.asarray(qtables[comp["qt"]], dtype=np.float64)
        nb = comp["bh"] * comp["bw"]
        zigzagged = np.array(quant[ci], dtype=np.int64)
        natural = np.zeros_like(zigzagged)
        natural[:, zzarr] = zigzagged  # de-zigzag all blocks at once
        coef = (natural.astype(np.float64) * q).reshape(nb, 8, 8)
        # batched IDCT C.T @ X @ C; byte-equality over the golden corpus
        # (noise/gradient/tiles, all modes) pins the output
        spatial = _dct_sandwich(c.T, coef) + 128.0
        # crop to the component's true dims (T.81 A.1.1: ceil(D*f/fmax)),
        # then replicate-upsample back to full resolution
        cw = (width * comp["h"] + hmax - 1) // hmax
        chh = (height * comp["v"] + vmax - 1) // vmax
        plane = (
            spatial.reshape(comp["bh"], comp["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(comp["bh"] * 8, comp["bw"] * 8)[:chh, :cw]
        )
        sx, sy = hmax // comp["h"], vmax // comp["v"]
        if sx > 1 or sy > 1:
            plane = np.repeat(np.repeat(plane, sy, axis=0), sx, axis=1)[
                :height, :width
            ]
        planes.append(plane)
    if nc == 1:
        out = np.clip(np.floor(planes[0] + 0.5), 0, 255).astype(np.uint8)
        return int(width), int(height), 1, out.tobytes()
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    out = np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)
    return int(width), int(height), 3, out.tobytes()


def jpeg_probe(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL JPEG pixel probe via mapInPandas: full baseline decode per
    payload, reporting dimensions, the top-left decoded pixel, and the
    sum of ALL decoded pixels — a whole-image checksum that only matches
    an oracle if every stage (Huffman, zig-zag, DC prediction,
    dequantize, IDCT) is correct."""

    def rows_of(_id, payload):
        w, h, ch, raw = decode_jpeg_pixels(payload)
        yield _id, w, h, ch, raw[0], sum(raw)

    return map_payloads(
        df, id_col, payload_col,
        "id long, width int, height int, channels int,"
        " first_px int, px_sum long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2) video: real frame extraction without a codec library
# ---------------------------------------------------------------------------


def encode_y4m(
    width: int,
    height: int,
    frames: list[bytes],
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "mono",
) -> bytes:
    """Encode raw frames as a standard YUV4MPEG2 stream (the uncompressed
    interchange format every video toolchain reads — ffmpeg, mjpegtools).
    ``colorspace`` 'mono' expects width*height luma bytes per frame;
    '420jpeg' expects the additional two half-resolution chroma planes.
    Deterministic byte-for-byte."""
    if colorspace == "mono":
        frame_len = width * height
    elif colorspace == "420jpeg":
        frame_len = width * height + 2 * ((width // 2) * (height // 2))
    else:
        raise ValueError(f"unsupported Y4M colorspace {colorspace}")
    for f in frames:
        if len(f) != frame_len:
            raise ValueError("frame byte length does not match dimensions")
    header = (
        f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 "
        f"C{colorspace}\n"
    ).encode("ascii")
    return header + b"".join(b"FRAME\n" + f for f in frames)


def decode_y4m_frames(payload: bytes) -> tuple[int, int, int, int, list[bytes]]:
    """REAL Y4M parse: header tags (W/H/F/C), then the FRAME-delimited
    raw planes. Returns (width, height, fps_num, fps_den, frames) where
    each frame is the full plane payload ('mono': luma only; '420jpeg':
    luma + 2 chroma planes). Raises ValueError for non-Y4M bytes and
    NotImplementedError for the colorspaces that need real chroma-siting
    logic (the honest boundary: compressed video needs pyav/ffmpeg)."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("Y4M header unterminated")
    width = height = -1
    fps_num, fps_den = 25, 1
    colorspace = "420jpeg"  # Y4M default
    for tag in payload[10:nl].decode("ascii", "replace").split():
        if tag[:1] == "W":
            width = int(tag[1:])
        elif tag[:1] == "H":
            height = int(tag[1:])
        elif tag[:1] == "F":
            num, den = tag[1:].split(":")
            fps_num, fps_den = int(num), int(den)
        elif tag[:1] == "C":
            colorspace = tag[1:]
    if width <= 0 or height <= 0:
        raise ValueError("Y4M header missing dimensions")
    if colorspace == "mono":
        frame_len = width * height
    elif colorspace.startswith("420"):
        frame_len = width * height + 2 * ((width // 2) * (height // 2))
    else:
        raise NotImplementedError(
            f"Y4M colorspace {colorspace} needs a real chroma pipeline"
        )
    frames: list[bytes] = []
    i = nl + 1
    while i < len(payload):
        if payload[i : i + 5] != b"FRAME":
            raise ValueError("Y4M frame marker missing")
        fnl = payload.find(b"\n", i)
        if fnl < 0 or fnl + 1 + frame_len > len(payload):
            raise ValueError("Y4M frame truncated")
        frames.append(payload[fnl + 1 : fnl + 1 + frame_len])
        i = fnl + 1 + frame_len
    return width, height, fps_num, fps_den, frames


def y4m_frame_stats(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """REAL video frame sampling via mapInPandas over Y4M payloads: pick
    the frame nearest each ``every_ms`` boundary (by the stream's own
    F num:den timebase), never the same frame twice, up to
    ``max_frames``; report exact per-frame luma stats (first byte, full
    plane sum) the oracle can recompute. Row explosion happens inside
    the Arrow batch — pixel planes never leave the UDF."""
    _check_every_ms(every_ms)

    def rows_of(_id, payload):
        w, h, num, den, frames = decode_y4m_frames(payload)
        for idx, ms in sampled_frames(len(frames), num, den, every_ms, max_frames):
            luma = frames[idx][: w * h]
            yield _id, idx, ms, luma[0], sum(luma)

    return map_payloads(
        df, id_col, payload_col,
        "id long, frame_index int, frame_ms long, y_first int, y_sum long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# MJPEG-in-AVI: real COMPRESSED video (RIFF container + per-frame JPEG)
# ---------------------------------------------------------------------------


def encode_avi_mjpeg(
    width: int,
    height: int,
    jpeg_frames: list[bytes],
    fps: tuple[int, int] = (25, 1),
) -> bytes:
    """Encode pre-compressed JPEG frames as a standard MJPEG AVI (RIFF):
    'hdrl' (avih + one 'vids'/'MJPG' stream with a BITMAPINFOHEADER),
    'movi' with one '00dc' chunk per frame (word-aligned), and an idx1
    index — the container every player/ffmpeg reads. ``fps`` is
    (rate, scale): frames per second = rate/scale. Deterministic
    byte-for-byte."""
    import struct

    num, den = fps
    if num <= 0 or den <= 0:
        raise ValueError("fps rate/scale must be positive")
    usec_per_frame = den * 1_000_000 // num
    max_size = max((len(f) for f in jpeg_frames), default=0)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<14I",
        usec_per_frame,
        max_size * num // max(den, 1),
        0,
        0x10,  # AVIF_HASINDEX
        len(jpeg_frames),
        0,
        1,  # one stream
        max_size,
        width,
        height,
        0, 0, 0, 0,
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4H",
            0, 0, 0, 0,  # flags, priority, language, initial frames
            den,  # dwScale
            num,  # dwRate
            0,
            len(jpeg_frames),
            max_size,
            0xFFFFFFFF,  # quality: default
            0,  # dwSampleSize: varies per frame
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00dc", f) for f in jpeg_frames)
    movi = lst(b"movi", movi_body)
    # idx1: offsets are relative to the start of the 'movi' list type tag
    idx_entries = []
    off = 4  # past the 'movi' fourcc
    for f in jpeg_frames:
        idx_entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) & 1)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_mjpeg_frames(
    payload: bytes,
) -> tuple[int, int, int, int, list[bytes]]:
    """REAL AVI parse (RIFF walk): reads avih/strh/strf from 'hdrl' and
    the '00dc'/'00db' frame chunks from 'movi'. Returns (width, height,
    fps_num, fps_den, jpeg_frames) — each frame is the still-compressed
    JPEG payload; callers decode only the frames they sample (the whole
    point of a compressed container at 100 TB). Raises ValueError for
    non-AVI bytes and NotImplementedError for codecs other than MJPEG
    (the honest boundary: inter-coded video needs pyav/ffmpeg)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")

    width = height = -1
    num, den = 25, 1
    handler = None
    frames: list[bytes] = []
    for cid, b0, b1 in _avi_chunks(payload, 12, len(payload)):
        if cid == b"avih" and b1 - b0 >= 40:
            vals = struct.unpack("<10I", payload[b0 : b0 + 40])
            width, height = vals[8], vals[9]
        elif cid == b"strh" and b1 - b0 >= 32:
            if payload[b0 : b0 + 4] == b"vids":
                handler = payload[b0 + 4 : b0 + 8]
                scale, rate = struct.unpack("<II", payload[b0 + 20 : b0 + 28])
                if scale > 0 and rate > 0:
                    num, den = rate, scale
        elif cid in (b"00dc", b"00db"):
            frames.append(payload[b0:b1])
    if width <= 0 or height <= 0:
        raise ValueError("AVI missing avih dimensions")
    if handler is None:
        raise ValueError("AVI has no video stream")
    if handler.upper() not in (b"MJPG", b"JPEG"):
        raise NotImplementedError(
            f"AVI codec {handler!r} is inter-coded; real decode needs pyav — "
            "only MJPEG (independent JPEG frames) decodes here"
        )
    return width, height, num, den, frames


def mjpeg_frame_stats(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """REAL compressed-video frame sampling via mapInPandas over MJPEG
    AVI payloads — the video twin of ``y4m_frame_stats`` with an actual
    codec in the loop: pick the frame nearest each ``every_ms`` boundary
    on the container's own rate/scale timebase, JPEG-decode ONLY the
    sampled frames (the container stays compressed; at 100 TB that is
    the difference between reading n_sampled and n_total frames), and
    report exact per-frame decoded-pixel stats (first pixel, full RGB
    sum) an oracle can recompute. Row explosion happens inside the
    Arrow batch — neither payloads nor pixels leave the UDF."""
    _check_every_ms(every_ms)

    def rows_of(_id, payload):
        _w, _h, num, den, frames = decode_avi_mjpeg_frames(payload)
        for idx, ms in sampled_frames(len(frames), num, den, every_ms, max_frames):
            _fw, _fh, _ch, raw = decode_jpeg_pixels(frames[idx])
            yield _id, idx, ms, raw[0], sum(raw)

    return map_payloads(
        df, id_col, payload_col,
        "id long, frame_index int, frame_ms long, px_first int, px_sum long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# Audio: PCM16 WAV codec + framed spectral features (fingerprinting core)
# ---------------------------------------------------------------------------


def encode_wav_pcm16(
    samples: list[int], sample_rate: int = 8000, n_channels: int = 1
) -> bytes:
    """Encode 16-bit PCM samples (channel-interleaved for n_channels > 1)
    as a standard RIFF/WAVE file. Deterministic byte-for-byte; the
    inverse of ``decode_wav_samples``."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH",
        1,
        n_channels,
        sample_rate,
        sample_rate * 2 * n_channels,
        2 * n_channels,
        16,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_samples(payload: bytes) -> tuple[int, list[int]]:
    """REAL RIFF/WAVE parse returning (sample_rate, samples) for 16-bit
    PCM. Multichannel audio is downmixed to mono by the floor mean of
    the channels per frame (integer, deterministic — the standard
    analysis downmix). Raises ValueError for non-WAV bytes and
    NotImplementedError for compressed/other-depth audio (the
    codec-library boundary)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt, chunk = _wav_fmt_data(payload, whole_fmt=True)
    if chunk is None or fmt is None:
        raise ValueError("WAVE missing fmt/data chunks")
    fmt_code, n_channels, rate, _byte_rate, _align, bits = fmt
    data = payload[chunk[0] : chunk[1]]
    if fmt_code != 1 or bits != 16 or n_channels < 1:
        raise NotImplementedError(
            "only 16-bit PCM decodes here; compressed audio needs a "
            "codec library"
        )
    n = len(data) // 2
    samples = struct.unpack(f"<{n}h", data[: n * 2])
    if n_channels == 1:
        return int(rate), list(samples)
    n_frames = n // n_channels
    return int(rate), [
        sum(samples[f * n_channels : (f + 1) * n_channels]) // n_channels
        for f in range(n_frames)
    ]


# ---------------------------------------------------------------------------
# FLAC: lossless audio codec, pure stdlib (bit-level Rice/fixed-predictor)
# ---------------------------------------------------------------------------

_CRC8_TABLE = _make_crc_table(0x07, 8)
_CRC16_TABLE = _make_crc_table(0x8005, 16)


def _crc16_slice8_tables() -> list[list[int]]:
    """Slicing-by-8 tables for the FLAC CRC-16 (the standard technique
    from Intel's slicing-by-N papers): ``T[j][b]`` is the CRC register
    contribution of byte ``b`` followed by ``j`` zero bytes, so eight
    bytes fold into the register with eight lookups instead of eight
    dependent shift/xor steps."""
    t0 = _CRC16_TABLE
    tables = [list(t0)]
    for _ in range(7):
        prev = tables[-1]
        tables.append(
            [((v << 8) & 0xFFFF) ^ t0[v >> 8] for v in prev]
        )
    return tables


_CRC16_T8 = _crc16_slice8_tables()


def _crc8(data: bytes) -> int:
    """CRC-8 poly 0x07 (FLAC frame-header CRC) — table-driven (byte at a
    time; bit-identical to the textbook bit loop)."""
    c = 0
    t = _CRC8_TABLE
    for b in data:
        c = t[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    """CRC-16 poly 0x8005 init 0 (FLAC whole-frame CRC) — slicing-by-8
    table lookups (8 bytes per loop iteration), byte-at-a-time tail.
    Bit-identical to the one-byte table loop."""
    c = 0
    t0, t1, t2, t3, t4, t5, t6, t7 = _CRC16_T8
    n = len(data)
    m = n - (n % 8)
    i = 0
    while i < m:
        c = (
            t7[data[i] ^ (c >> 8)]
            ^ t6[data[i + 1] ^ (c & 0xFF)]
            ^ t5[data[i + 2]]
            ^ t4[data[i + 3]]
            ^ t3[data[i + 4]]
            ^ t2[data[i + 5]]
            ^ t1[data[i + 6]]
            ^ t0[data[i + 7]]
        )
        i += 8
    t = _CRC16_TABLE
    for j in range(m, n):
        c = ((c << 8) & 0xFFFF) ^ t[(c >> 8) ^ data[j]]
    return c


def _flac_utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coding of frame/sample numbers."""
    if n < 0x80:
        return bytes([n])
    for n_bytes, first_max in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31)):
        if n < (1 << first_max):
            lead = (0xFF << (8 - n_bytes)) & 0xFF
            shift = 6 * (n_bytes - 1)
            out = [lead | (n >> shift)]
            for k in range(n_bytes - 1):
                shift -= 6
                out.append(0x80 | ((n >> shift) & 0x3F))
            return bytes(out)
    raise ValueError("frame number too large")


def _flac_read_utf8(br: _MsbBitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n_bytes = 0
    mask = 0x80
    while b0 & mask:
        n_bytes += 1
        mask >>= 1
    if n_bytes < 2 or n_bytes > 7:
        raise ValueError("bad FLAC utf8-coded number")
    v = b0 & (mask - 1)
    for _ in range(n_bytes - 1):
        nxt = br.read(8)
        if nxt & 0xC0 != 0x80:
            raise ValueError("bad FLAC utf8-coded number")
        v = (v << 6) | (nxt & 0x3F)
    return v


def _flac_fixed_residual(x, order: int):
    """Residual of the order-``order`` FIXED predictor = the ``order``-th
    forward difference (the identity the decoder's cumsum reconstruction
    already relies on) — one ``np.diff`` instead of a per-sample Python
    loop; int64-exact (every intermediate is a Δ^j x, bounded by
    ~2^(bps+j))."""
    import numpy as np

    arr = np.asarray(x, dtype=np.int64)
    return np.diff(arr, order) if order else arr


def _zigzag_np(res):
    """Vectorized Rice zigzag: non-negatives -> 2r, negatives -> 2|r|-1
    (identical to the per-sample branch the scalar writer used)."""
    import numpy as np

    r = np.asarray(res, dtype=np.int64)
    return np.where(r >= 0, r << 1, ((-r) << 1) - 1)


def _rice_write(bw: _MsbBitWriter, residuals, k: int) -> None:
    """Emit Rice(k) codes for the whole residual block as ONE bit array
    (terminator scatter + remainder gather) — the encode twin of the
    decoder's ``_rice_partition_np``; byte-identical to the per-sample
    write_unary/write loop it replaces."""
    import numpy as np

    u = _zigzag_np(residuals)
    n = len(u)
    if n == 0:
        return
    q = u >> k
    lens = q + 1 + k
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    np.cumsum(lens[:-1], out=starts[1:])
    bits = np.zeros(int(starts[-1] + lens[-1]), dtype=np.uint8)
    term = starts + q
    bits[term] = 1
    if k:
        idx = term[:, None] + 1 + np.arange(k, dtype=np.int64)
        vals = (u[:, None] >> np.arange(k - 1, -1, -1, dtype=np.int64)) & 1
        bits[idx.ravel()] = vals.ravel().astype(np.uint8)
    bw.write_bits(bits)


def _rice_param_cost(u) -> tuple[int, int]:
    """Smallest-cost 4-bit Rice parameter over ZIGZAGGED residuals
    (scan 0..14; escape unused), plus that cost. One (n, 15) shift
    matrix + argmin instead of 15 separate reductions; argmin takes the
    FIRST minimum — the same ties-to-lower-k rule as the old
    strictly-less scan. Exact integer costs."""
    import numpy as np

    n = len(u)
    ks = np.arange(15, dtype=np.int64)
    costs = np.add.reduce(u[:, None] >> ks[None, :], axis=0) + n * (1 + ks)
    k = int(costs.argmin())
    return k, int(costs[k])


def _flac_write_subframe(
    bw: _MsbBitWriter, x: list[int], bps: int
) -> None:
    """One subframe: CONSTANT when flat, else the best FIXED order 0-2
    with a single-partition Rice residual, else VERBATIM when Rice can't
    win (k would escape).  All spec-conformant; wasted-bits unused."""
    import numpy as np

    arr = np.asarray(x, dtype=np.int64)
    n = len(arr)
    if n and bool((arr == arr[0]).all()):
        bw.write(0, 1)
        bw.write(0, 6)  # CONSTANT
        bw.write(0, 1)
        bw.write(int(arr[0]), bps)
        return
    best = None
    for order in (0, 1, 2):
        if n <= order:
            continue
        res = _flac_fixed_residual(arr, order)
        if len(res) and int(max(res.max(), -res.min())) >= (1 << 30):
            continue
        k, cost = _rice_param_cost(_zigzag_np(res))
        if best is None or cost < best[0]:
            best = (cost, order, res, k)
    if best is None or best[0] > n * bps:  # Rice loses: verbatim
        bw.write(0, 1)
        bw.write(1, 6)  # VERBATIM
        bw.write(0, 1)
        masked = arr & ((np.int64(1) << bps) - 1)
        vbits = (
            (masked[:, None] >> np.arange(bps - 1, -1, -1, dtype=np.int64)) & 1
        ).astype(np.uint8)
        bw.write_bits(vbits.ravel())
        return
    _cost, order, res, k = best
    bw.write(0, 1)
    bw.write(8 | order, 6)  # FIXED, order 0-2
    bw.write(0, 1)  # no wasted bits
    for v in arr[:order]:
        bw.write(int(v), bps)
    bw.write(0, 2)  # residual method: 4-bit Rice
    bw.write(0, 4)  # partition order 0 (single partition)
    bw.write(k, 4)
    _rice_write(bw, res, k)


def encode_flac(
    samples: list[int],
    sample_rate: int = 8000,
    n_channels: int = 1,
    block_size: int = 4096,
    stereo_mode: str = "independent",
) -> bytes:
    """Encode 16-bit PCM (channel-interleaved for n_channels > 1) as a
    spec-conformant FLAC stream — pure stdlib and deterministic, the
    fixture twin of ``encode_wav_pcm16``.  Subframes are CONSTANT /
    FIXED(0-2)+Rice / VERBATIM; ``stereo_mode`` picks the 2-channel
    decorrelation (``independent`` / ``left_side`` / ``right_side`` /
    ``mid_side``) so tests can drive every reconstruction path of the
    decoder.  Correct CRC-8/CRC-16 are written, so any external FLAC
    tool accepts the output."""
    import struct

    if n_channels < 1 or n_channels > 8:
        raise ValueError("1..8 channels")
    if stereo_mode not in ("independent", "left_side", "right_side", "mid_side"):
        raise ValueError("bad stereo_mode")
    if stereo_mode != "independent" and n_channels != 2:
        raise ValueError("stereo decorrelation needs exactly 2 channels")
    import numpy as np

    n_frames_total = len(samples) // n_channels
    _arr = np.asarray(samples, dtype=np.int64)
    chans = [_arr[c::n_channels] for c in range(n_channels)]
    # STREAMINFO (34 bytes)
    si = _MsbBitWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(n_channels - 1, 3)
    si.write(15, 5)  # bps - 1
    si.write(n_frames_total, 36)
    si_bytes = bytes(si.out) + b"\x00" * 16  # md5 unknown
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(si_bytes))[1:] + si_bytes
    frame_no = 0
    for start in range(0, n_frames_total, block_size):
        bs = min(block_size, n_frames_total - start)
        sub = [c[start : start + bs] for c in chans]
        if n_channels == 2 and stereo_mode != "independent":
            left, right = sub
            side = left - right
            if stereo_mode == "left_side":
                asgn, sub, bps_extra = 8, [left, side], [0, 1]
            elif stereo_mode == "right_side":
                asgn, sub, bps_extra = 9, [side, right], [1, 0]
            else:
                # int64 >> floors toward -inf, same as the Python >> the
                # scalar form used
                mid = (left + right) >> 1
                asgn, sub, bps_extra = 10, [mid, side], [0, 1]
        else:
            asgn, bps_extra = n_channels - 1, [0] * n_channels
        hdr = _MsbBitWriter()
        hdr.write(0x3FFE, 14)  # sync
        hdr.write(0, 1)
        hdr.write(0, 1)  # fixed-blocksize strategy
        hdr.write(0b0111, 4)  # blocksize: explicit 16-bit at header end
        hdr.write(0, 4)  # sample rate: from STREAMINFO
        hdr.write(asgn, 4)
        hdr.write(0b100, 3)  # 16 bps
        hdr.write(0, 1)
        hdr.align()
        hdr_bytes = bytes(hdr.out) + _flac_utf8_number(frame_no)
        hdr_bytes += struct.pack(">H", bs - 1)
        hdr_bytes += bytes([_crc8(hdr_bytes)])
        body = _MsbBitWriter()
        for ci, x in enumerate(sub):
            _flac_write_subframe(body, x, 16 + bps_extra[ci])
        body.align()
        frame = hdr_bytes + bytes(body.out)
        out += frame + struct.pack(">H", _crc16(frame))
        frame_no += 1
    return bytes(out)


_FLAC_BLOCKSIZE_CODE = {1: 192, **{n: 576 << (n - 2) for n in range(2, 6)},
                        **{n: 256 << (n - 8) for n in range(8, 16)}}


def _flac_bit_cache(payload: bytes):
    """Whole-payload numpy bit cache: (bit array MSB-first, positions of
    set bits) — computed once per decode, shared by every frame reader."""
    import numpy as np

    bits = np.unpackbits(np.frombuffer(payload, dtype=np.uint8))
    return bits, np.flatnonzero(bits).astype(np.int64)


def _read_fixed_np(br: _MsbBitReader, cnt: int, width: int):
    """``cnt`` unsigned ``width``-bit codes at the reader's bit cursor as
    one strided gather + matmul (int64), advancing the cursor — the
    vectorized twin of ``cnt`` br.read(width) calls."""
    import numpy as np

    if cnt == 0 or width == 0:
        return np.zeros(cnt, dtype=np.int64)
    bits = br._bits
    b0 = br.bitpos()
    if b0 + cnt * width > len(bits):
        raise ValueError("FLAC bitstream truncated")
    idx = b0 + np.arange(cnt, dtype=np.int64)[:, None] * width + np.arange(width)
    vals = bits[idx] @ (np.int64(1) << np.arange(width - 1, -1, -1, dtype=np.int64))
    br.seek_bit(b0 + cnt * width)
    return vals


def _rice_partition_np(br: _MsbBitReader, cnt: int, k: int):
    """Decode ``cnt`` Rice(k) codes (zigzag applied) vectorized.

    The bitstream is serial by spec, but the code BOUNDARIES form a
    successor chain over the payload's set-bit positions: code i ends at
    terminator one t_i, and t_{i+1} = first one >= t_i + 1 + k.  One
    searchsorted builds the whole successor function; pointer doubling
    extracts the cnt-step path in O(log cnt) vector passes (each code
    consumes 1 terminator + <= k remainder ones, so the window slice
    ones[j0 : j0 + cnt*(k+1) + 1] provably contains the path).  Quotients
    are then term - start deltas, remainders one strided gather — no
    per-sample Python."""
    import numpy as np

    if cnt == 0:
        return np.zeros(0, dtype=np.int64)
    bits, ones = br._bits, br._ones
    b0 = br.bitpos()
    j0 = int(np.searchsorted(ones, b0))
    if k == 0:
        # pure unary: every bit is a code bit, terminators are simply the
        # next cnt set bits
        term = ones[j0 : j0 + cnt]
        if len(term) < cnt:
            raise ValueError("FLAC bitstream truncated")
        starts = np.empty(cnt, dtype=np.int64)
        starts[0] = b0
        starts[1:] = term[:-1] + 1
        u = term - starts
        br.seek_bit(int(term[-1]) + 1)
    else:
        w = ones[j0 : j0 + cnt * (k + 1) + 1]
        L = len(w)
        if L == 0:
            raise ValueError("FLAC bitstream truncated")
        nxt = np.searchsorted(w, w + 1 + k).astype(np.int64)
        f = np.append(nxt, L)  # sentinel node L: ran past the stream
        path = np.empty(cnt, dtype=np.int64)
        path[0] = 0
        filled = 1
        while filled < cnt:
            take = min(filled, cnt - filled)
            path[filled : filled + take] = f[path[:take]]
            filled += take
            if filled < cnt:
                f = f[f]  # double the jump length
        if int(path.max()) >= L:
            raise ValueError("FLAC bitstream truncated")
        term = w[path]
        if int(term[-1]) + 1 + k > len(bits):
            raise ValueError("FLAC bitstream truncated")
        starts = np.empty(cnt, dtype=np.int64)
        starts[0] = b0
        starts[1:] = term[:-1] + 1 + k
        q = term - starts
        if int(q.max()) >= (1 << (62 - k)):
            raise ValueError("FLAC Rice quotient overflow")
        rem = bits[term[:, None] + 1 + np.arange(k)] @ (
            np.int64(1) << np.arange(k - 1, -1, -1, dtype=np.int64)
        )
        u = (q << k) | rem
        br.seek_bit(int(term[-1]) + 1 + k)
    return (u >> 1) ^ -(u & 1)


def _flac_read_residual(br: _MsbBitReader, n: int, order: int):
    import numpy as np

    method = br.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = br.read(4)
    if n % (1 << po):
        raise ValueError("bad FLAC partition order")
    res = []
    for p in range(1 << po):
        cnt = (n >> po) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("bad FLAC partition order")
        k = br.read(pbits)
        if k == escape:
            raw = br.read(5)
            if raw == 0:
                res.append(np.zeros(cnt, dtype=np.int64))
            else:
                v = _read_fixed_np(br, cnt, raw)
                half = np.int64(1) << (raw - 1)
                res.append(np.where(v >= half, v - (half << 1), v))
        else:
            res.append(_rice_partition_np(br, cnt, k))
    return np.concatenate(res) if res else np.zeros(0, dtype=np.int64)


def _flac_read_subframe(br: _MsbBitReader, n: int, bps: int):
    """One subframe as an int64 numpy array.  FIXED reconstruction is
    ``order``-fold cumulative integration (the order-o fixed predictor's
    residual is exactly the o-th forward difference, so x rebuilds as o
    cumsums seeded by the warmup's difference pyramid — no per-sample
    loop); VERBATIM is one strided gather; the LPC recurrence is
    genuinely sequential (arbitrary-coefficient IIR) and stays a Python
    loop over the already-vectorized residuals."""
    import numpy as np

    if br.read(1):
        raise ValueError("bad FLAC subframe padding bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
        bps -= wasted
    if stype == 0:  # CONSTANT
        x = np.full(n, br.read_signed(bps), dtype=np.int64)
    elif stype == 1:  # VERBATIM
        v = _read_fixed_np(br, n, bps)
        half = np.int64(1) << (bps - 1)
        x = np.where(v >= half, v - (half << 1), v)
    elif 8 <= stype <= 12:  # FIXED
        order = stype - 8
        warm = np.array(
            [br.read_signed(bps) for _ in range(order)], dtype=np.int64
        )
        res = _flac_read_residual(br, n, order)
        # residual = Δ^order x  ⇒  x = order-fold cumsum of res, each
        # level seeded by Δ^{j-1}x at index order-1 from the warmup
        # (int64 is safe: every intermediate IS a Δ^j x value, bounded
        # by ~2^{bps+j})
        for j in range(order, 0, -1):
            res = np.int64(np.diff(warm, j - 1)[-1]) + np.cumsum(res)
        x = np.concatenate([warm, res]) if order else res
    elif stype >= 32:  # LPC
        order = (stype & 31) + 1
        x = [br.read_signed(bps) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coef = [br.read_signed(prec) for _ in range(order)]
        res = _flac_read_residual(br, n, order)
        for i in range(len(res)):
            j = i + order
            pred = sum(c * x[j - 1 - t] for t, c in enumerate(coef)) >> shift
            x.append(int(res[i]) + pred)
        x = np.array(x, dtype=np.int64)
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    if wasted:
        x = x << wasted
    return x


def decode_flac_samples(payload: bytes) -> tuple[int, list[int]]:
    """REAL FLAC decode — pure stdlib, the full subset a lossless
    fixed/LPC stream needs: metadata walk, frame headers (all blocksize
    and sample-rate codings, UTF-8 frame numbers), CONSTANT / VERBATIM /
    FIXED(0-4) / LPC subframes, 4- and 5-bit Rice partitions with
    escape, wasted bits, and all four stereo decorrelations
    (independent, left-side, right-side, mid-side).  Returns
    (sample_rate, samples) with multichannel downmixed to mono by the
    floor mean — the exact contract of ``decode_wav_samples``, so a
    FLAC file and its WAV twin produce IDENTICAL analysis samples
    (lossless means bit-exact, and the tests hold it to that).  Raises
    ValueError for non-FLAC/corrupt payloads."""
    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    rate = n_channels = bps = None
    total = 0
    while pos + 4 <= len(payload):  # metadata blocks
        hdr = payload[pos]
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        if hdr & 0x7F == 0:  # STREAMINFO
            si = _MsbBitReader(payload, pos + 4)
            si.read(16)
            si.read(16)
            si.read(24)
            si.read(24)
            rate = si.read(20)
            n_channels = si.read(3) + 1
            bps = si.read(5) + 1
            total = si.read(36)
        pos += 4 + size
        if hdr & 0x80:
            break
    if rate is None or not rate:
        raise ValueError("FLAC missing STREAMINFO")
    if bps != 16:
        raise NotImplementedError("only 16-bit FLAC decodes here")
    import numpy as np

    bit_cache = _flac_bit_cache(payload)
    chans: list[list] = [[] for _ in range(n_channels)]
    decoded = 0
    while pos < len(payload) and (not total or decoded < total):
        br = _MsbBitReader(payload, pos)
        br._bits, br._ones = bit_cache
        if br.read(14) != 0x3FFE:
            raise ValueError("bad FLAC frame sync")
        br.read(1)
        br.read(1)
        bs_code = br.read(4)
        sr_code = br.read(4)
        asgn = br.read(4)
        ss_code = br.read(3)
        br.read(1)
        _flac_read_utf8(br)
        if bs_code == 0:
            raise ValueError("reserved FLAC blocksize code")
        elif bs_code == 6:
            bs = br.read(8) + 1
        elif bs_code == 7:
            bs = br.read(16) + 1
        else:
            bs = _FLAC_BLOCKSIZE_CODE[bs_code]
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample-rate code")
        br.read(8)  # header CRC-8 (not verified; structure errors raise)
        if ss_code == 0:
            fbps = bps
        else:
            fbps = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}.get(ss_code)
            if fbps is None:
                raise ValueError("reserved FLAC sample-size code")
        if asgn < 8:
            nch = asgn + 1
            subs = [_flac_read_subframe(br, bs, fbps) for _ in range(nch)]
        elif asgn in (8, 9, 10):
            nch = 2
            extra0 = 1 if asgn == 9 else 0
            extra1 = 1 if asgn in (8, 10) else 0
            c0 = _flac_read_subframe(br, bs, fbps + extra0)
            c1 = _flac_read_subframe(br, bs, fbps + extra1)
            if asgn == 8:  # left-side
                subs = [c0, c0 - c1]
            elif asgn == 9:  # right-side
                subs = [c1 + c0, c1]
            else:  # mid-side
                lr = (c0 << 1) | (c1 & 1)
                subs = [(lr + c1) >> 1, (lr - c1) >> 1]
        else:
            raise ValueError("reserved FLAC channel assignment")
        if nch != n_channels:
            raise ValueError("FLAC frame channel count != STREAMINFO")
        br.align()
        br.read(16)  # frame CRC-16
        for c in range(n_channels):
            chans[c].append(subs[c])
        decoded += bs
        pos = br.pos
    if total and decoded < total:
        raise ValueError("FLAC stream shorter than STREAMINFO total")
    full = [
        np.concatenate(c) if c else np.zeros(0, dtype=np.int64) for c in chans
    ]
    if total:
        full = [c[:total] for c in full]
    if n_channels == 1:
        return int(rate), full[0].tolist()
    # floor-mean downmix (int64 // floors toward -inf, same as Python)
    mix = full[0]
    for c in full[1:]:
        mix = mix + c
    return int(rate), (mix // n_channels).tolist()


def decode_audio_samples(payload: bytes) -> tuple[int, list[int]]:
    """Format-dispatching audio decode: RIFF/WAVE PCM16 or FLAC, both
    returning (sample_rate, mono samples) with the same floor-mean
    downmix — the audio twin of ``decode_image_pixels``, letting the
    framed-feature operators treat a mixed audio corpus as one binary
    column. ValueError for unknown magic; NotImplementedError for the
    genuinely-compressed formats (MP3/AAC) that need a codec library."""
    if payload[:4] == b"RIFF":
        return decode_wav_samples(payload)
    if payload[:4] == b"fLaC":
        return decode_flac_samples(payload)
    if payload[:3] == b"ID3" or (
        len(payload) > 1 and payload[0] == 0xFF and payload[1] & 0xE0 == 0xE0
    ):
        raise NotImplementedError("MP3 needs a codec library")
    if payload[4:8] == b"ftyp":
        raise NotImplementedError("MP4/AAC needs a codec library")
    raise ValueError("unknown audio format")


def _tiff_orientation(p: bytes, t: int) -> int:
    """Orientation tag (0x0112) from a TIFF block starting at ``p[t:]``
    — both byte orders; 1 when absent/truncated/invalid."""
    import struct

    order = p[t : t + 2]
    if order not in (b"II", b"MM"):
        return 1
    e = "<" if order == b"II" else ">"
    try:
        (ifd_off,) = struct.unpack(e + "I", p[t + 4 : t + 8])
        (n_entries,) = struct.unpack(e + "H", p[t + ifd_off : t + ifd_off + 2])
        for k in range(n_entries):
            at = t + ifd_off + 2 + 12 * k
            tag, typ, _cnt = struct.unpack(e + "HHI", p[at : at + 8])
            if tag == 0x0112 and typ == 3:  # SHORT
                (val,) = struct.unpack(e + "H", p[at + 8 : at + 10])
                return val if 1 <= val <= 8 else 1
    except struct.error:
        return 1
    return 1


def exif_orientation(payload: bytes) -> int:
    """EXIF orientation (1..8) from a JPEG's APP1 segment or a PNG's
    eXIf chunk — pure stdlib TIFF-IFD walk (both II and MM byte
    orders), tag 0x0112.  Returns 1 (upright) when there is no
    EXIF/orientation tag or the walk runs off the data: a missing tag
    MEANS upright, and triage must never crash on truncated
    metadata."""
    import struct

    p = payload or b""
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        i = 8
        while i + 8 <= len(p):
            (size,) = struct.unpack(">I", p[i : i + 4])
            tag = p[i + 4 : i + 8]
            if tag == b"eXIf":
                return _tiff_orientation(p, i + 8)
            if tag == b"IEND":
                break
            i += 12 + size
        return 1
    if p[:2] != b"\xff\xd8":
        return 1
    i = 2
    while i + 4 <= len(p) and p[i] == 0xFF:
        marker = p[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0xD9, 0xDA):
            break
        (size,) = struct.unpack(">H", p[i + 2 : i + 4])
        if size < 2:
            break
        if marker == 0xE1 and p[i + 4 : i + 10] == b"Exif\x00\x00":
            return _tiff_orientation(p, i + 10)
        i += 2 + size
    return 1


def orient_pixels(
    raw: bytes, width: int, height: int, channels: int, orientation: int
) -> tuple[int, int, bytes]:
    """Apply the EXIF orientation transform that maps STORED pixels to
    the UPRIGHT image — (new_width, new_height, upright_raw).  All 8
    orientations, one numpy view manipulation each (flip/rot90/
    transpose), so normalization costs a copy, not arithmetic.  This is
    what image dedup needs BEFORE fingerprinting: a phone photo arrives
    through the crawl in any of 8 orientations and must hash once."""
    import numpy as np

    if not 1 <= orientation <= 8:
        raise ValueError(f"bad EXIF orientation {orientation}")
    a = np.frombuffer(raw, dtype=np.uint8).reshape(height, width, channels)
    # EXIF: row0/col0 of the STORED image sit at (visual top/left) =
    # 1:TL 2:TR 3:BR 4:BL 5:LT 6:RT 7:RB 8:LB; invert to upright
    if orientation == 2:
        a = a[:, ::-1]
    elif orientation == 3:
        a = a[::-1, ::-1]
    elif orientation == 4:
        a = a[::-1, :]
    elif orientation == 5:
        a = a.transpose(1, 0, 2)
    elif orientation == 6:
        a = np.rot90(a, k=-1, axes=(0, 1))  # display = rotate stored CW
    elif orientation == 7:
        a = np.rot90(a.transpose(1, 0, 2), k=2, axes=(0, 1))
    elif orientation == 8:
        a = np.rot90(a, k=1, axes=(0, 1))  # display = rotate stored CCW
    h2, w2 = a.shape[0], a.shape[1]
    return int(w2), int(h2), np.ascontiguousarray(a).tobytes()


def exif_tiff(orientation: int, byte_order: str = "II") -> bytes:
    """Minimal TIFF block carrying ONE IFD0 entry (the orientation
    SHORT) — goes verbatim into a PNG eXIf chunk, or wrapped by
    ``exif_app1_segment`` for JPEG."""
    import struct

    e = "<" if byte_order == "II" else ">"
    tiff = byte_order.encode() + struct.pack(e + "HI", 42, 8)
    tiff += struct.pack(e + "H", 1)  # one IFD entry
    tiff += struct.pack(e + "HHIHH", 0x0112, 3, 1, orientation, 0)
    tiff += struct.pack(e + "I", 0)  # next IFD offset
    return tiff


def exif_app1_segment(orientation: int, byte_order: str = "II") -> bytes:
    """Minimal valid EXIF APP1 segment (JPEG form of ``exif_tiff``) —
    the fixture twin of ``exif_orientation``."""
    import struct

    body = b"Exif\x00\x00" + exif_tiff(orientation, byte_order)
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def png_exif_chunk(orientation: int, byte_order: str = "II") -> bytes:
    """PNG eXIf chunk (PNG 1.5 extension) carrying the same minimal
    TIFF block — insert after IHDR."""
    import struct
    from binascii import crc32

    data = exif_tiff(orientation, byte_order)
    return (
        struct.pack(">I", len(data))
        + b"eXIf"
        + data
        + struct.pack(">I", crc32(b"eXIf" + data) & 0xFFFFFFFF)
    )


#: MPEG audio Layer III bitrates (kbps) by version; index 0/15 invalid.
_MP3_BITRATES = {
    3: (None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None),
    2: (None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, None),
    0: (None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, None),
}
#: sample rates by version bits (3=MPEG1, 2=MPEG2, 0=MPEG2.5); index 3 invalid.
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}


def mp3_stream_info(payload: bytes) -> tuple[int, int, int, int, bool]:
    """Header-walk metadata for an MPEG Layer III stream — (sample_rate,
    n_frames, duration_ms, kbps_avg, is_cbr) — WITHOUT decoding a single
    sample: each frame header carries its own bitrate/rate/padding, so
    frame length is closed-form ((spf/8)*bitrate/rate + padding, spf =
    1152 MPEG1 / 576 MPEG2&2.5) and the walk just hops frame to frame,
    summing samples.  An ID3v2 tag is skipped by its syncsafe size.
    This is the audio twin of ``sniff_media``'s budgeting role: MP3
    DECODE honestly needs a codec library, but duration/bitrate triage
    of a 100 TB audio crawl does not — corpus hours and transcode cost
    come straight off these headers.  duration_ms is exact integer
    arithmetic (total_samples * 1000 // rate).  Raises ValueError for
    payloads with no valid Layer III frame; trailing garbage ends the
    walk (real streams end with tags/truncation, not an error)."""
    p = payload or b""
    i = 0
    if p[:3] == b"ID3" and len(p) >= 10:
        size = (
            ((p[6] & 0x7F) << 21)
            | ((p[7] & 0x7F) << 14)
            | ((p[8] & 0x7F) << 7)
            | (p[9] & 0x7F)
        )
        i = 10 + size
    n_frames = total_samples = kbps_sum = 0
    rate = None
    kbps_set: set[int] = set()
    while i + 4 <= len(p):
        if p[i] != 0xFF or (p[i + 1] & 0xE0) != 0xE0:
            break
        h1, h2 = p[i + 1], p[i + 2]
        version = (h1 >> 3) & 0x3
        layer = (h1 >> 1) & 0x3
        if version == 1 or layer != 1:  # reserved version / not Layer III
            break
        br_idx, sr_idx = h2 >> 4, (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 1
        kbps = _MP3_BITRATES[version][br_idx]
        if kbps is None or sr_idx == 3:
            break
        sr = _MP3_RATES[version][sr_idx]
        if rate is not None and sr != rate:
            break  # rate switch mid-stream: treat as end of the stream
        spf = 1152 if version == 3 else 576
        # canonical frame length: floor(spf/8 * bitrate / rate) + padding
        flen = (spf // 8) * (kbps * 1000) // sr + padding
        if flen < 4:
            break
        n_frames += 1
        total_samples += spf
        kbps_sum += kbps
        kbps_set.add(kbps)
        rate = sr
        i += flen
    if not n_frames:
        raise ValueError("no valid MPEG Layer III frame")
    return (
        int(rate),
        n_frames,
        total_samples * 1000 // rate,
        kbps_sum // n_frames,
        len(kbps_set) == 1,
    )


def encode_mp3_headers(
    n_frames: int,
    sample_rate: int = 44100,
    kbps_pattern: Sequence[int] = (128,),
) -> bytes:
    """Synthesize a structurally valid MPEG-1 Layer III frame SEQUENCE —
    correct sync/bitrate/rate/length headers with zeroed audio payload
    (silence would need a real encoder; the header walk never reads
    payload bytes).  The fixture twin of ``mp3_stream_info``:
    ``kbps_pattern`` cycles per frame, so a single-entry pattern builds
    a CBR stream and a multi-entry one a VBR stream.  Frame length =
    144 * bitrate / rate (MPEG1 L3, no padding)."""
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    br_index = {k: i for i, k in enumerate(_MP3_BITRATES[3]) if k}
    out = bytearray()
    for f in range(n_frames):
        kbps = kbps_pattern[f % len(kbps_pattern)]
        h2 = (br_index[kbps] << 4) | (sr_idx << 2)
        flen = 144 * (kbps * 1000) // sample_rate
        frame = bytearray(flen)
        frame[0:4] = bytes([0xFF, 0xFB, h2, 0x00])  # MPEG1, Layer III, no CRC
        out += frame
    return bytes(out)


def _skip_id3v2(p: bytes) -> int:
    """Byte offset of the first post-ID3v2 byte (0 if no tag): the tag
    size is syncsafe-encoded in bytes 6..9 and excludes the 10-byte
    tag header itself."""
    if p[:3] == b"ID3" and len(p) >= 10:
        return 10 + (
            ((p[6] & 0x7F) << 21)
            | ((p[7] & 0x7F) << 14)
            | ((p[8] & 0x7F) << 7)
            | (p[9] & 0x7F)
        )
    return 0


def mp3_vbr_info(payload: bytes) -> tuple[str, int, int, int, int]:
    """FIRST-FRAME-ONLY VBR-header triage for an MPEG Layer III stream —
    (tag, declared_frames, declared_bytes, duration_ms, kbps_avg) where
    ``tag`` is 'xing' / 'info' / 'vbri' / 'none'.  Real-crawl MP3s are
    mostly VBR, and ``mp3_stream_info``'s per-frame walk reads O(file)
    header bytes; VBR encoders instead write the stream's exact frame
    and byte totals into the FIRST frame (LAME/Xing in the side-info
    gap — 'Xing' for VBR, 'Info' for CBR — and Fraunhofer at the fixed
    +32 offset as 'VBRI'), so a 100 TB crawl can budget corpus hours
    from ~200 bytes per file.  Offsets follow the public LAME tag spec:
    Xing sits after the side info (MPEG1: 17 bytes mono / 32 otherwise;
    MPEG2/2.5: 9 / 17), VBRI always at header+4+32.  duration_ms =
    frames * samples_per_frame * 1000 // rate (exact integers),
    kbps_avg = bytes * 8 // duration_ms.  A missing frames/bytes field
    (its flag bit unset) zeroes the derived stats rather than guessing.
    Raises ValueError when no valid Layer III first frame exists;
    returns ('none', 0, 0, 0, 0) for a tagless (plain CBR) stream —
    the caller falls back to the full walk."""
    import struct

    p = payload or b""
    i = _skip_id3v2(p)
    if i + 4 > len(p) or p[i] != 0xFF or (p[i + 1] & 0xE0) != 0xE0:
        raise ValueError("no valid MPEG Layer III frame")
    h1, h2, h3 = p[i + 1], p[i + 2], p[i + 3]
    version = (h1 >> 3) & 0x3
    layer = (h1 >> 1) & 0x3
    br_idx, sr_idx = h2 >> 4, (h2 >> 2) & 0x3
    if (
        version == 1
        or layer != 1
        or sr_idx == 3
        or _MP3_BITRATES[version][br_idx] is None
    ):
        raise ValueError("no valid MPEG Layer III frame")
    rate = _MP3_RATES[version][sr_idx]
    spf = 1152 if version == 3 else 576
    mono = (h3 >> 6) == 3
    if version == 3:
        side = 17 if mono else 32
    else:
        side = 9 if mono else 17
    frames = nbytes = 0
    tag = "none"
    at = i + 4 + side
    word = p[at : at + 4]
    if word in (b"Xing", b"Info"):
        tag = "xing" if word == b"Xing" else "info"
        if at + 8 <= len(p):
            (flags,) = struct.unpack(">I", p[at + 4 : at + 8])
            pos = at + 8
            if flags & 1 and pos + 4 <= len(p):
                (frames,) = struct.unpack(">I", p[pos : pos + 4])
                pos += 4
            if flags & 2 and pos + 4 <= len(p):
                (nbytes,) = struct.unpack(">I", p[pos : pos + 4])
    elif p[i + 4 + 32 : i + 4 + 36] == b"VBRI":
        tag = "vbri"
        at = i + 4 + 32
        if at + 18 <= len(p):
            (nbytes,) = struct.unpack(">I", p[at + 10 : at + 14])
            (frames,) = struct.unpack(">I", p[at + 14 : at + 18])
    duration_ms = frames * spf * 1000 // rate if frames else 0
    kbps = nbytes * 8 // duration_ms if duration_ms and nbytes else 0
    return tag, frames, nbytes, duration_ms, kbps


def encode_mp3_vbr_header(
    declared_frames: int,
    declared_bytes: int,
    sample_rate: int = 44100,
    tag: bytes = b"Xing",
    mono: bool = False,
) -> bytes:
    """Synthesize the FIRST frame of a VBR MPEG-1 L3 stream carrying a
    Xing/Info (side-info offset) or VBRI (+32 fixed offset) header with
    the given declared frame/byte totals — the fixture twin of
    ``mp3_vbr_info``.  The frame is a structurally valid 128 kbps
    MPEG-1 header (the tag frame's OWN bitrate is arbitrary by spec);
    payload past the tag stays zeroed."""
    import struct

    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    br_index = {k: i for i, k in enumerate(_MP3_BITRATES[3]) if k}
    h2 = (br_index[128] << 4) | (sr_idx << 2)
    h3 = 0xC0 if mono else 0x00  # channel mode in bits 6..7
    flen = 144 * 128000 // sample_rate
    frame = bytearray(flen)
    frame[0:4] = bytes([0xFF, 0xFB, h2, h3])
    if tag in (b"Xing", b"Info"):
        at = 4 + (17 if mono else 32)
        frame[at : at + 4] = tag
        frame[at + 4 : at + 8] = struct.pack(">I", 3)  # frames | bytes
        frame[at + 8 : at + 12] = struct.pack(">I", declared_frames)
        frame[at + 12 : at + 16] = struct.pack(">I", declared_bytes)
    elif tag == b"VBRI":
        at = 4 + 32
        frame[at : at + 4] = tag
        frame[at + 4 : at + 6] = struct.pack(">H", 1)  # version
        frame[at + 6 : at + 8] = struct.pack(">H", 0)  # delay
        frame[at + 8 : at + 10] = struct.pack(">H", 0)  # quality
        frame[at + 10 : at + 14] = struct.pack(">I", declared_bytes)
        frame[at + 14 : at + 18] = struct.pack(">I", declared_frames)
    else:
        raise ValueError(f"unknown VBR tag {tag!r}")
    return bytes(frame)


_ADTS_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350,
)
_ADTS_PROFILES = ("main", "lc", "ssr", "ltp")


def adts_stream_info(
    payload: bytes,
) -> tuple[int, int, int, int, str, int]:
    """Header-walk metadata for an AAC ADTS stream — (sample_rate,
    n_frames, duration_ms, kbps_avg, profile, channels) — without
    decoding a sample: each ADTS frame header (7 bytes, 9 with CRC)
    carries its profile, sampling-frequency index, channel config and
    its OWN 13-bit frame length, so the walk hops frame to frame
    summing 1024 * (raw_data_blocks + 1) samples each.  The AAC twin
    of ``mp3_stream_info`` (real crawls are full of .aac/.ts audio):
    DECODE honestly needs a codec library, but duration/bitrate triage
    does not.  duration_ms and kbps_avg are exact integer arithmetic
    (kbps_avg = stream_bytes * 8 // duration_ms).  Raises ValueError
    for payloads with no valid ADTS frame; trailing garbage or a
    mid-stream parameter switch ends the walk."""
    p = payload or b""
    i = 0
    n_frames = total_samples = total_bytes = 0
    rate = profile = channels = None
    while i + 7 <= len(p):
        if p[i] != 0xFF or (p[i + 1] & 0xF6) != 0xF0:
            break
        prof_idx = p[i + 2] >> 6
        sr_idx = (p[i + 2] >> 2) & 0xF
        if sr_idx >= len(_ADTS_RATES):
            break
        ch = ((p[i + 2] & 0x1) << 2) | (p[i + 3] >> 6)
        flen = ((p[i + 3] & 0x3) << 11) | (p[i + 4] << 3) | (p[i + 5] >> 5)
        hdr = 7 if (p[i + 1] & 0x1) else 9  # protection_absent=0 adds CRC
        if flen < hdr:
            break
        sr = _ADTS_RATES[sr_idx]
        if rate is not None and (sr, prof_idx, ch) != (rate, profile, channels):
            break  # parameter switch: treat as end of the stream
        rdb = p[i + 6] & 0x3
        n_frames += 1
        total_samples += 1024 * (rdb + 1)
        total_bytes += flen
        rate, profile, channels = sr, prof_idx, ch
        i += flen
    if not n_frames:
        raise ValueError("no valid ADTS frame")
    duration_ms = total_samples * 1000 // rate
    kbps = total_bytes * 8 // duration_ms if duration_ms else 0
    return (
        int(rate),
        n_frames,
        duration_ms,
        kbps,
        _ADTS_PROFILES[profile],
        channels,
    )


# Ogg page CRC (RFC 3533 A.1): CRC-32 poly 0x04C11DB7, NOT reflected,
# init 0, xorout 0 — different from zlib.crc32 on all three counts
_OGG_CRC = _make_crc_table(0x04C11DB7, 32)


def _ogg_crc_bytewise(data: bytes) -> int:
    # The textbook table walk: O(bytes) of INTERPRETER work. Kept as
    # the independent reference implementation ``_ogg_crc`` is
    # cross-checked against (test_multimodal_decode.py).
    r = 0
    for byte in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ _OGG_CRC[(r >> 24) ^ byte]
    return r


# bit-reverse-within-byte table for the reflection identity below
_REV8 = None


def _rev32(r: int) -> int:
    r = ((r & 0x55555555) << 1) | ((r >> 1) & 0x55555555)
    r = ((r & 0x33333333) << 2) | ((r >> 2) & 0x33333333)
    r = ((r & 0x0F0F0F0F) << 4) | ((r >> 4) & 0x0F0F0F0F)
    r = ((r & 0x00FF00FF) << 8) | ((r >> 8) & 0x00FF00FF)
    return ((r << 16) | (r >> 16)) & 0xFFFFFFFF


def _ogg_crc(data: bytes) -> int:
    """RFC 3533 page CRC at C speed via the CRC reflection identity:
    a non-reflected CRC over polynomial P with init/xorout 0 equals
    the bit-reverse of the reflected CRC over the bit-reversed
    polynomial computed on byte-wise bit-reversed input — and zlib's
    polynomial 0xEDB88320 IS 0x04C11DB7 bit-reversed. Passing
    0xFFFFFFFF as zlib.crc32's running value cancels its internal
    pre-inversion (init 0) and the final ^0xFFFFFFFF undoes its
    post-inversion (xorout 0). One numpy table gather + one zlib call:
    ~20x the bytewise table walk, so verifying every page of a
    multi-MB Ogg payload no longer dominates the triage cost
    (ADVICE r6). Cross-checked against ``_ogg_crc_bytewise`` in the
    test suite."""
    global _REV8
    import zlib

    import numpy as np

    if _REV8 is None:
        t = np.arange(256, dtype=np.uint16)
        rev = np.zeros(256, dtype=np.uint8)
        for _ in range(8):
            rev = (rev << 1) | (t & 1).astype(np.uint8)
            t >>= 1
        _REV8 = rev
    arr = np.frombuffer(data, dtype=np.uint8)
    raw = zlib.crc32(_REV8[arr].tobytes(), 0xFFFFFFFF) ^ 0xFFFFFFFF
    return _rev32(raw)


_OGG_ID_MAGIC = (
    (b"\x01vorbis", "vorbis"),
    (b"OpusHead", "opus"),
    (b"\x7fFLAC", "flac-ogg"),
    (b"\x80theora", "theora"),
    (b"Speex   ", "speex"),
)


def ogg_stream_info(payload: bytes) -> tuple[str, int, int, int, int]:
    """Page-walk metadata for an Ogg stream — (codec, channels,
    sample_rate, duration_ms, n_pages) — without decoding a sample:
    the BOS page's first packet is the codec identification header
    (Vorbis I: channels at +11, rate LE32 at +12; Opus RFC 7845:
    channels at +9, pre-skip LE16 at +10, output clock fixed 48 kHz),
    and every page carries an absolute granule POSITION, so total
    duration is just the last page's granule over the clock rate
    (minus pre-skip for Opus).  The Ogg twin of ``mp3_stream_info`` /
    ``adts_stream_info``: voice corpora arrive overwhelmingly as Ogg
    Opus, and hour-budgeting them needs page headers only.  Each
    page's CRC (RFC 3533's non-reflected 0x04C11DB7, which zlib does
    NOT compute directly — see ``_ogg_crc``'s reflection identity for
    how it is still computed AT zlib speed) is verified over the full
    page, so the walk's metadata read is O(pages) header bytes but the
    integrity gate touches every payload byte at C speed — a corrupt
    page ends the walk at the last good granule rather than
    mis-reporting duration.  Walks only
    the FIRST bitstream serial (the audio stream in the common
    single-stream files); other serials' pages are skipped.  Raises
    ValueError when no valid BOS page exists; codecs without a parsed
    clock (flac-ogg/theora/speex) report rate 0 and duration 0 —
    identification is still the triage signal."""
    p = payload or b""
    codec, channels, rate, pre_skip = "unknown", 0, 0, 0
    serial = None
    granule = 0
    n_pages = 0
    i = 0
    while i + 27 <= len(p):
        if p[i : i + 4] != b"OggS" or p[i + 4] != 0:
            break
        nseg = p[i + 26]
        head_end = i + 27 + nseg
        if head_end > len(p):
            break
        body_len = sum(p[i + 27 : head_end])
        page_end = head_end + body_len
        if page_end > len(p):
            break
        crc_stored = int.from_bytes(p[i + 22 : i + 26], "little")
        crc_real = _ogg_crc(
            p[i : i + 22] + b"\x00\x00\x00\x00" + p[i + 26 : page_end]
        )
        if crc_stored != crc_real:
            break  # corrupt page: stop at the last good granule
        page_serial = int.from_bytes(p[i + 14 : i + 18], "little")
        if serial is None:
            if not p[i + 5] & 0x02:  # first page must be BOS
                break
            serial = page_serial
            pkt = p[head_end:page_end]
            for magic, name in _OGG_ID_MAGIC:
                if pkt[: len(magic)] == magic:
                    codec = name
                    break
            if codec == "vorbis" and len(pkt) >= 16:
                channels = pkt[11]
                rate = int.from_bytes(pkt[12:16], "little")
            elif codec == "opus" and len(pkt) >= 12:
                channels = pkt[9]
                pre_skip = pkt[10] | (pkt[11] << 8)
                rate = 48000  # Opus granules always count 48 kHz samples
        if page_serial == serial:
            n_pages += 1
            g = int.from_bytes(p[i + 6 : i + 14], "little", signed=True)
            if g > granule:
                granule = g
        i = page_end
    if serial is None:
        raise ValueError("no valid Ogg BOS page")
    samples = max(granule - pre_skip, 0)
    duration_ms = samples * 1000 // rate if rate else 0
    return codec, channels, rate, duration_ms, n_pages


def encode_ogg_pages(
    codec: str,
    n_data_pages: int,
    samples_per_page: int,
    sample_rate: int = 48000,
    channels: int = 2,
    pre_skip: int = 312,
    serial: int = 0x1234,
) -> bytes:
    """Synthesize a structurally valid Ogg page sequence — real page
    headers, real RFC 3533 CRCs, a real Vorbis/Opus identification
    packet on the BOS page, zeroed audio payload on the data pages
    (decoding would need a codec; the page walk never reads payload
    past the id header).  The fixture twin of ``ogg_stream_info``:
    data page k carries absolute granule (k+1) * samples_per_page
    (+ pre_skip for Opus, whose granules include the skipped priming),
    and the last page sets EOS."""
    import struct

    if codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + struct.pack("<I", 0)
            + bytes([channels])
            + struct.pack("<I", sample_rate)
            + struct.pack("<iii", 0, 128000, 0)
            + bytes([0xB8, 0x01])  # blocksizes + framing bit
        )
    elif codec == "opus":
        ident = (
            b"OpusHead"
            + bytes([1, channels])
            + struct.pack("<H", pre_skip)
            + struct.pack("<I", sample_rate)
            + struct.pack("<h", 0)
            + bytes([0])
        )
    elif codec == "flac-ogg":
        ident = b"\x7fFLAC" + bytes([1, 0]) + struct.pack(">H", 1) + b"fLaC"
    else:
        raise ValueError(f"unknown ogg codec {codec!r}")

    def page(seq: int, granule: int, body: bytes, htype: int) -> bytes:
        nseg = (len(body) + 254) // 255 if body else 1
        segs = bytearray()
        rem = len(body)
        for _ in range(nseg - 1):
            segs.append(255)
            rem -= 255
        segs.append(rem)
        head = (
            b"OggS\x00"
            + bytes([htype])
            + struct.pack("<q", granule)
            + struct.pack("<I", serial)
            + struct.pack("<I", seq)
            + b"\x00\x00\x00\x00"
            + bytes([nseg])
            + bytes(segs)
        )
        crc = _ogg_crc(head + body)
        return head[:22] + struct.pack("<I", crc) + head[26:] + body

    base = pre_skip if codec == "opus" else 0
    out = bytearray(page(0, 0, ident, 0x02))
    for k in range(n_data_pages):
        htype = 0x04 if k == n_data_pages - 1 else 0x00
        out += page(k + 1, base + (k + 1) * samples_per_page, bytes(50), htype)
    return bytes(out)


def encode_adts_headers(
    n_frames: int,
    sample_rate: int = 44100,
    profile: str = "lc",
    channels: int = 2,
    payload_len: int = 13,
    raw_data_blocks: int = 0,
    with_crc: bool = False,
) -> bytes:
    """Synthesize a structurally valid AAC ADTS frame sequence — correct
    sync/profile/rate/channel/length headers with zeroed AAC payload
    (the header walk never reads payload bytes).  The fixture twin of
    ``adts_stream_info``: frame length = 7-byte header (9 with
    ``with_crc``: protection_absent=0 adds a 16-bit CRC field) +
    payload_len, samples per frame = 1024 * (raw_data_blocks + 1)."""
    sr_idx = _ADTS_RATES.index(sample_rate)
    prof_idx = _ADTS_PROFILES.index(profile)
    flen = (9 if with_crc else 7) + payload_len
    out = bytearray()
    for _ in range(n_frames):
        frame = bytearray(flen)
        frame[0] = 0xFF
        # MPEG-4, layer 00; low bit = protection_absent (0 -> CRC runs)
        frame[1] = 0xF0 if with_crc else 0xF1
        frame[2] = (prof_idx << 6) | (sr_idx << 2) | ((channels >> 2) & 0x1)
        frame[3] = ((channels & 0x3) << 6) | ((flen >> 11) & 0x3)
        frame[4] = (flen >> 3) & 0xFF
        frame[5] = ((flen & 0x7) << 5) | 0x1F
        frame[6] = 0xFC | (raw_data_blocks & 0x3)
        out += frame
    return bytes(out)


def mp4_stream_info(
    payload: bytes,
) -> tuple[str, int, int, int, str, str]:
    """Box-walk metadata for an ISO-BMFF (MP4/MOV/M4A) file — (brand,
    duration_ms, timescale, n_tracks, video_codec, audio_codec) —
    without touching a media sample: ISO/IEC 14496-12 files are a tree
    of length-prefixed boxes, so the walk reads ftyp's major brand,
    mvhd's timescale+duration (version 0: 32-bit at +12/+16; version 1:
    64-bit at +20/+24), and per trak the hdlr handler type (vide/soun)
    plus the first stsd sample-entry fourcc (avc1/hev1/mp4a/...).  The
    video twin of the audio header walks: a 100 TB video crawl budgets
    transcode hours and codec-library needs from O(1 KB) of moov
    headers, never the mdat payload.  duration_ms is exact integer
    arithmetic (duration * 1000 // timescale).  Raises ValueError when
    no ftyp box leads the file; a missing moov (the
    streaming-unfriendly 'moov at end, file truncated' case) reports
    zero duration/tracks — identification is still the triage signal."""
    import struct

    p = payload or b""

    top = list(_mp4_boxes(p, 0, len(p)))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("no leading ftyp box")
    brand = p[top[0][1] : top[0][1] + 4].decode("latin-1").strip().lower()
    timescale = duration = 0
    n_tracks = 0
    video_codec = audio_codec = ""
    moov = _mp4_child(p, 0, len(p), b"moov")
    if moov:
        mv = _mp4_child(p, *moov, b"mvhd")
        if mv:
            b = mv[0]
            ver = p[b]
            if ver == 1 and b + 32 <= mv[1]:
                (timescale,) = struct.unpack(">I", p[b + 20 : b + 24])
                (duration,) = struct.unpack(">Q", p[b + 24 : b + 32])
            elif ver == 0 and b + 20 <= mv[1]:
                (timescale,) = struct.unpack(">I", p[b + 12 : b + 16])
                (duration,) = struct.unpack(">I", p[b + 16 : b + 20])
        for fc, b, e in _mp4_boxes(p, *moov):
            if fc != b"trak":
                continue
            n_tracks += 1
            mdia = _mp4_child(p, b, e, b"mdia")
            if not mdia:
                continue
            hd = _mp4_child(p, *mdia, b"hdlr")
            handler = p[hd[0] + 8 : hd[0] + 12] if hd else b""
            minf = _mp4_child(p, *mdia, b"minf")
            stbl = _mp4_child(p, *minf, b"stbl") if minf else None
            stsd = _mp4_child(p, *stbl, b"stsd") if stbl else None
            codec = ""
            if stsd and stsd[0] + 16 <= stsd[1]:
                # stsd: version/flags(4) + entry_count(4) + first
                # sample entry (size(4) + fourcc(4))
                codec = (
                    p[stsd[0] + 12 : stsd[0] + 16]
                    .decode("latin-1")
                    .strip()
                    .lower()
                )
            if handler == b"vide" and not video_codec:
                video_codec = codec
            elif handler == b"soun" and not audio_codec:
                audio_codec = codec
    duration_ms = duration * 1000 // timescale if timescale else 0
    return brand, duration_ms, timescale, n_tracks, video_codec, audio_codec


def encode_mp4_boxes(
    brand: str = "isom",
    duration: int = 0,
    timescale: int = 1000,
    tracks: Sequence[tuple[str, str]] = (),
    mvhd_version: int = 0,
    video_avcc: bytes | None = None,
    video_hvcc: bytes | None = None,
    video_av1c: bytes | None = None,
    video_vpcc: bytes | None = None,
    video_dims: tuple[int, int] | None = None,
) -> bytes:
    """Synthesize a structurally valid ISO-BMFF box tree — real ftyp /
    moov / mvhd / trak / mdia / hdlr / minf / stbl / stsd nesting with
    correct length prefixes and an empty mdat (the box walk never reads
    samples).  The fixture twin of ``mp4_stream_info``: ``tracks`` is a
    sequence of (handler, codec_fourcc) like ('vide', 'avc1').  With
    ``video_avcc`` (or ``video_hvcc``), 'vide' tracks get a full
    78-byte VisualSampleEntry (ISO 14496-12 §12.1.3) carrying that
    decoder-configuration record as an ``avcC`` (``hvcC``) child box —
    the fixture twin of :func:`video_stream_params`."""
    import struct

    def box(fourcc: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    ftyp = box(b"ftyp", brand.encode("latin-1").ljust(4)[:4] + struct.pack(">I", 0))
    if mvhd_version == 1:
        mvhd_body = (
            b"\x01\x00\x00\x00"
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">I", timescale)
            + struct.pack(">Q", duration)
            + bytes(80)
        )
    else:
        mvhd_body = (
            b"\x00\x00\x00\x00"
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", timescale)
            + struct.pack(">I", duration)
            + bytes(80)
        )
    kids = [box(b"mvhd", mvhd_body)]
    # Configs are tested with `is not None` (never truthiness — mixing
    # the two let an explicit empty-bytes avcC mask a real vpcC).
    # Empty bytes are rejected only when a 'vide' track would actually
    # embed them: an empty decoder-config box is never what a fixture
    # means, but an audio-only call that happens to pass video_avcc=b''
    # never consumes the config and must keep encoding fine.
    video_cfgs = [
        (b"avcC", video_avcc, parse_avcc),
        (b"hvcC", video_hvcc, parse_hvcc),
        (b"av1C", video_av1c, parse_av1c),
        (b"vpcC", video_vpcc, None),
    ]
    video_cfgs = [(f, c, p) for f, c, p in video_cfgs if c is not None]
    if any(handler == "vide" for handler, _ in tracks):
        for fourcc_, cfg_, _p in video_cfgs:
            if not cfg_:
                raise ValueError(
                    f"empty {fourcc_.decode('latin-1')} config bytes"
                )
    for handler, codec in tracks:
        if handler == "vide" and video_cfgs:
            # real VisualSampleEntry: 6 reserved + data_ref_index,
            # 16 pre_defined/reserved, width/height (declared from the
            # SPS, or video_dims for configs that carry none — vpcC),
            # 72dpi fixed-point resolutions, frame_count 1, 32-byte
            # compressorname, depth 24, pre_defined -1, then the
            # avcC/hvcC/av1C/vpcC configuration box as a child
            cfg_fourcc, cfg, parse = video_cfgs[0]
            if video_dims is not None:
                vw, vh = video_dims
            elif parse is not None:
                try:
                    _, _, vw, vh = parse(cfg)
                except ValueError:
                    vw = vh = 0
            else:
                vw = vh = 0
            entry_body = (
                bytes(6)
                + struct.pack(">H", 1)
                + bytes(16)
                + struct.pack(">HH", vw, vh)
                + struct.pack(">II", 0x00480000, 0x00480000)
                + bytes(4)
                + struct.pack(">H", 1)
                + bytes(32)
                + struct.pack(">Hh", 24, -1)
                + box(cfg_fourcc, cfg)
            )
            entry = (
                struct.pack(">I", 8 + len(entry_body))
                + codec.encode("latin-1").ljust(4)[:4]
                + entry_body
            )
        else:
            entry = (
                struct.pack(">I", 16)
                + codec.encode("latin-1").ljust(4)[:4]
                + bytes(8)
            )
        stsd = box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
        stbl = box(b"stbl", stsd)
        minf = box(b"minf", stbl)
        hdlr = box(
            b"hdlr",
            bytes(8) + handler.encode("latin-1").ljust(4)[:4] + bytes(13),
        )
        mdia = box(b"mdia", hdlr + minf)
        kids.append(box(b"trak", mdia))
    return ftyp + box(b"moov", b"".join(kids)) + box(b"mdat", b"")


def mkv_stream_info(payload: bytes) -> tuple[str, int, int, str, str]:
    """EBML-walk metadata for a Matroska/WebM file — (doctype,
    duration_ms, n_tracks, video_codec, audio_codec) — without reading
    a media block: EBML is a tree of (varint id, varint size, body)
    elements, so the walk reads the header's DocType ('webm' vs
    'matroska'), Segment>Info's TimestampScale (ns per tick, default
    1,000,000) and float Duration (ticks), and per TrackEntry the
    TrackType (1 video / 2 audio) and CodecID ('V_VP9', 'A_OPUS', ...).
    WebM is the other half of the crawl video story next to MP4 —
    duration_ms = int(Duration * scale_ns // 1e6) in exact integer
    arithmetic once Duration's float is read.  Raises ValueError
    without a leading EBML header; a missing Segment/Info reports zero
    duration — identification is still the triage signal."""
    import struct

    p = payload or b""
    if p[:4] != b"\x1a\x45\xdf\xa3":
        raise ValueError("no EBML header")

    doctype = "unknown"
    scale_ns = 1_000_000
    dur_ticks = 0.0
    n_tracks = 0
    video_codec = audio_codec = ""
    for eid, b, e in _ebml_elements(p, 0, len(p)):
        if eid == 0x1A45DFA3:  # EBML header
            for i2, b2, e2 in _ebml_elements(p, b, e):
                if i2 == 0x4282:  # DocType
                    doctype = p[b2:e2].decode("latin-1").rstrip("\x00")
        elif eid == 0x18538067:  # Segment
            for i2, b2, e2 in _ebml_elements(p, b, e):
                if i2 == 0x1549A966:  # Info
                    for i3, b3, e3 in _ebml_elements(p, b2, e2):
                        if i3 == 0x2AD7B1:  # TimestampScale (uint)
                            scale_ns = int.from_bytes(p[b3:e3], "big")
                        elif i3 == 0x4489:  # Duration (float 4/8)
                            raw = p[b3:e3]
                            # EBML floats are exactly 4 or 8 octets; a
                            # crafted/malformed size would make
                            # struct.unpack raise struct.error, which
                            # is NOT a ValueError subclass and would
                            # escape sniff_media_payload's garbage-lane
                            # guard — leave dur_ticks at 0 instead
                            if len(raw) in (4, 8):
                                dur_ticks = struct.unpack(
                                    ">f" if len(raw) == 4 else ">d", raw
                                )[0]
                elif i2 == 0x1654AE6B:  # Tracks
                    for i3, b3, e3 in _ebml_elements(p, b2, e2):
                        if i3 != 0xAE:  # TrackEntry
                            continue
                        n_tracks += 1
                        ttype, codec = 0, ""
                        for i4, b4, e4 in _ebml_elements(p, b3, e3):
                            if i4 == 0x83:
                                ttype = int.from_bytes(p[b4:e4], "big")
                            elif i4 == 0x86:
                                codec = (
                                    p[b4:e4].decode("latin-1").rstrip("\x00")
                                )
                        if ttype == 1 and not video_codec:
                            video_codec = codec
                        elif ttype == 2 and not audio_codec:
                            audio_codec = codec
    duration_ms = int(dur_ticks * scale_ns) // 1_000_000 if dur_ticks else 0
    return doctype, duration_ms, n_tracks, video_codec, audio_codec


def encode_mkv_elements(
    doctype: str = "webm",
    duration_ticks: float = 0.0,
    timestamp_scale: int = 1_000_000,
    tracks: Sequence[tuple[int, str]] = (),
) -> bytes:
    """Synthesize a structurally valid EBML/Matroska element tree —
    real varint ids/sizes for EBML>DocType, Segment>Info
    (TimestampScale + float64 Duration) and Segment>Tracks>TrackEntry
    (TrackType + CodecID).  The fixture twin of ``mkv_stream_info``:
    ``tracks`` is a sequence of (track_type, codec_id) like
    (1, 'V_VP9').  Longer tuples extend a TrackEntry for the
    :func:`video_stream_params` fixtures: (type, codec, codec_private)
    adds a CodecPrivate element (an avcC for V_MPEG4/ISO/AVC), and
    (type, codec, codec_private_or_None, pixel_width, pixel_height)
    adds a Video element with declared dimensions."""
    import struct

    def vint_size(n: int) -> bytes:
        # encode size in the fewest bytes with the marker bit
        for width in range(1, 9):
            if n < (1 << (7 * width)) - 1:
                v = n | (1 << (7 * width))
                return v.to_bytes(width, "big")
        raise ValueError("size too large")

    def elem(eid: int, body: bytes) -> bytes:
        return (
            eid.to_bytes((eid.bit_length() + 7) // 8, "big")
            + vint_size(len(body))
            + body
        )

    header = elem(
        0x1A45DFA3,
        elem(0x4282, doctype.encode("latin-1")),
    )
    info_kids = elem(
        0x2AD7B1,
        timestamp_scale.to_bytes(
            max((timestamp_scale.bit_length() + 7) // 8, 1), "big"
        ),
    )
    if duration_ticks:
        info_kids += elem(0x4489, struct.pack(">d", duration_ticks))
    seg_kids = elem(0x1549A966, info_kids)
    if tracks:
        entries = b""
        for spec in tracks:
            ttype, codec = spec[0], spec[1]
            kids = elem(0x83, bytes([ttype])) + elem(
                0x86, codec.encode("latin-1")
            )
            if len(spec) >= 3 and spec[2]:
                kids += elem(0x63A2, spec[2])  # CodecPrivate
            if len(spec) >= 5:
                pw, ph = int(spec[3]), int(spec[4])
                kids += elem(
                    0xE0,  # Video
                    elem(0xB0, pw.to_bytes(max((pw.bit_length() + 7) // 8, 1), "big"))
                    + elem(0xBA, ph.to_bytes(max((ph.bit_length() + 7) // 8, 1), "big")),
                )
            entries += elem(0xAE, kids)
        seg_kids += elem(0x1654AE6B, entries)
    return header + elem(0x18538067, seg_kids)


# ---------------------------------------------------------------------------
# H.264/AVC decoder-configuration triage: avcC + SPS (ISO 14496-15 /
# ITU-T H.264 §7.3.2.1). The container walks above answer "how long /
# which codec"; the SPS answers the crawl operator's next daily
# question — "how many PIXELS am I about to decode" — from a few
# hundred bytes of decoder configuration, before any sample data.
# ---------------------------------------------------------------------------

_AVC_HIGH_PROFILES = frozenset(
    (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)
)
# SubWidthC/SubHeightC per chroma_format_idc (H.264 table 6-1)
_AVC_SUBWH = {1: (2, 2), 2: (2, 1), 3: (1, 1)}


def _strip_emulation(rbsp: bytes) -> bytes:
    # 00 00 03 -> 00 00 (the 03 is the emulation-prevention byte)
    if b"\x00\x00\x03" not in rbsp:
        return rbsp
    out = bytearray()
    i = 0
    while i < len(rbsp):
        if rbsp[i : i + 3] == b"\x00\x00\x03":
            out += b"\x00\x00"
            i += 3
        else:
            out.append(rbsp[i])
            i += 1
    return bytes(out)


def _add_emulation(rbsp: bytes) -> bytes:
    # 00 00 {00,01,02,03} -> 00 00 03 xx (the inverse of _strip_emulation)
    out = bytearray()
    zeros = 0
    for byte in rbsp:
        if zeros >= 2 and byte <= 3:
            out.append(3)
            zeros = 0
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(out)


def parse_avc_sps(nal: bytes) -> tuple[int, int, int, int]:
    """Decode one H.264 sequence parameter set NAL ->
    (profile_idc, level_idc, width, height) — the full §7.3.2.1 parse:
    high-profile chroma/bit-depth block (with scaling-list skip),
    pic_order_cnt_type 0/1/2, and the frame-cropping rectangle in
    chroma crop units, which is how 1080p lives in 68 macroblock rows
    (1088 coded - 8 cropped).  ``nal`` starts at the NAL header byte
    (type must be 7); emulation-prevention bytes are stripped first.
    Raises ValueError on anything malformed — callers lane it."""
    if not nal or (nal[0] & 0x1F) != 7:
        raise ValueError("not an SPS NAL")
    b = _MsbBitReader(_strip_emulation(nal[1:]))
    profile_idc = b.read(8)
    b.read(8)  # constraint flags + reserved
    level_idc = b.read(8)
    b.ue()  # seq_parameter_set_id
    chroma_format_idc = 1
    if profile_idc in _AVC_HIGH_PROFILES:
        chroma_format_idc = b.ue()
        if chroma_format_idc == 3:
            b.read(1)  # separate_colour_plane_flag
        b.ue()  # bit_depth_luma_minus8
        b.ue()  # bit_depth_chroma_minus8
        b.read(1)  # qpprime_y_zero_transform_bypass_flag
        if b.read(1):  # seq_scaling_matrix_present_flag
            for i in range(12 if chroma_format_idc == 3 else 8):
                if b.read(1):  # seq_scaling_list_present_flag[i]
                    size = 16 if i < 6 else 64
                    last, nxt = 8, 8
                    for _ in range(size):
                        if nxt:
                            nxt = (last + b.se() + 256) % 256
                        last = last if nxt == 0 else nxt
    b.ue()  # log2_max_frame_num_minus4
    poc_type = b.ue()
    if poc_type == 0:
        b.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        b.read(1)  # delta_pic_order_always_zero_flag
        b.se()  # offset_for_non_ref_pic
        b.se()  # offset_for_top_to_bottom_field
        for _ in range(b.ue()):  # num_ref_frames_in_pic_order_cnt_cycle
            b.se()
    b.ue()  # max_num_ref_frames
    b.read(1)  # gaps_in_frame_num_value_allowed_flag
    pw_mbs = b.ue() + 1
    ph_units = b.ue() + 1
    frame_mbs_only = b.read(1)
    if not frame_mbs_only:
        b.read(1)  # mb_adaptive_frame_field_flag
    b.read(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if b.read(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = b.ue(), b.ue(), b.ue(), b.ue()
    if chroma_format_idc == 0:
        cux, cuy = 1, 2 - frame_mbs_only
    else:
        sw, shc = _AVC_SUBWH.get(chroma_format_idc, (2, 2))
        cux, cuy = sw, shc * (2 - frame_mbs_only)
    width = pw_mbs * 16 - cux * (crop_l + crop_r)
    height = (2 - frame_mbs_only) * ph_units * 16 - cuy * (crop_t + crop_b)
    if width <= 0 or height <= 0:
        raise ValueError("SPS crop exceeds coded size")
    return profile_idc, level_idc, width, height


def encode_avc_sps(
    width: int,
    height: int,
    profile_idc: int = 100,
    level_idc: int = 40,
) -> bytes:
    """Synthesize a structurally valid H.264 SPS NAL for the given
    display dimensions — real Exp-Golomb coding, 4:2:0 chroma, frame
    cropping when a dimension is not a macroblock multiple, RBSP stop
    bit, emulation-prevention bytes.  The fixture twin of
    :func:`parse_avc_sps` (same policy as every encode_*/parse_* pair
    in this module).  4:2:0 crop units are 2 px, so dimensions must be
    even."""
    if width <= 0 or height <= 0 or width % 2 or height % 2:
        raise ValueError("dimensions must be positive and even (4:2:0)")
    w = _MsbBitWriter()
    w.write(profile_idc, 8)
    w.write(0, 8)  # constraint flags + reserved_zero
    w.write(level_idc, 8)
    w.write_ue(0)  # seq_parameter_set_id
    if profile_idc in _AVC_HIGH_PROFILES:
        w.write_ue(1)  # chroma_format_idc = 4:2:0
        w.write_ue(0)  # bit_depth_luma_minus8
        w.write_ue(0)  # bit_depth_chroma_minus8
        w.write(0, 1)  # qpprime_y_zero_transform_bypass_flag
        w.write(0, 1)  # seq_scaling_matrix_present_flag
    w.write_ue(0)  # log2_max_frame_num_minus4
    w.write_ue(2)  # pic_order_cnt_type (2: no further fields)
    w.write_ue(1)  # max_num_ref_frames
    w.write(0, 1)  # gaps_in_frame_num_value_allowed_flag
    pw_mbs = (width + 15) // 16
    ph_units = (height + 15) // 16
    w.write_ue(pw_mbs - 1)
    w.write_ue(ph_units - 1)
    w.write(1, 1)  # frame_mbs_only_flag
    w.write(1, 1)  # direct_8x8_inference_flag
    crop_r = (pw_mbs * 16 - width) // 2  # CropUnitX = 2 (4:2:0)
    crop_b = (ph_units * 16 - height) // 2  # CropUnitY = 2 (frame_mbs_only)
    if crop_r or crop_b:
        w.write(1, 1)
        w.write_ue(0)
        w.write_ue(crop_r)
        w.write_ue(0)
        w.write_ue(crop_b)
    else:
        w.write(0, 1)
    w.write(0, 1)  # vui_parameters_present_flag
    w.write(1, 1)  # rbsp_stop_one_bit
    w.align()
    # nal_ref_idc=3, nal_unit_type=7 (SPS)
    return b"\x67" + _add_emulation(bytes(w.out))


def encode_avcc(sps_nals: Sequence[bytes]) -> bytes:
    """AVCDecoderConfigurationRecord (ISO 14496-15 §5.2.4.1) wrapping
    the given SPS NALs, zero PPS — what an ``avcC`` box / Matroska
    CodecPrivate carries."""
    if not sps_nals:
        raise ValueError("need at least one SPS")
    first = sps_nals[0]
    out = bytearray(
        [1, first[1], first[2], first[3], 0xFC | 3, 0xE0 | len(sps_nals)]
    )
    for nal in sps_nals:
        out += len(nal).to_bytes(2, "big") + nal
    out.append(0)  # numOfPictureParameterSets
    return bytes(out)


def parse_avcc(data: bytes) -> tuple[int, int, int, int]:
    """Parse an AVCDecoderConfigurationRecord -> the first SPS's
    (profile_idc, level_idc, width, height).  Raises ValueError on a
    bad record or no SPS."""
    if len(data) < 7 or data[0] != 1:
        raise ValueError("not an avcC record")
    n_sps = data[5] & 0x1F
    if not n_sps:
        raise ValueError("avcC with no SPS")
    ln = int.from_bytes(data[6:8], "big")
    nal = data[8 : 8 + ln]
    if len(nal) < ln:
        raise ValueError("truncated SPS in avcC")
    return parse_avc_sps(nal)


def parse_hevc_sps(nal: bytes) -> tuple[int, int, int, int]:
    """Decode one H.265/HEVC sequence parameter set NAL ->
    (profile_idc, level_idc, width, height) per ITU-T H.265
    §7.3.2.2.1: the 2-byte NAL header (type must be 33), the fixed
    96-bit profile_tier_level for 0 sub-layers (+ the per-sub-layer
    flag block when sps_max_sub_layers_minus1 > 0), then the explicit
    ue(v) luma dimensions and the conformance window in chroma units.
    ``level_idc`` is the raw general_level_idc (30x the level number —
    level 4.0 reports 120, the convention hvcC also stores).  Raises
    ValueError on anything malformed — callers lane it."""
    if len(nal) < 2 or (nal[0] >> 1) & 0x3F != 33:
        raise ValueError("not an HEVC SPS NAL")
    b = _MsbBitReader(_strip_emulation(nal[2:]))
    b.read(4)  # sps_video_parameter_set_id
    max_sub_layers = b.read(3)
    b.read(1)  # sps_temporal_id_nesting_flag
    # profile_tier_level(1, max_sub_layers)
    b.read(2)  # general_profile_space
    b.read(1)  # general_tier_flag
    profile_idc = b.read(5)
    b.read(32)  # general_profile_compatibility_flags
    b.read(48)  # progressive/interlaced/non-packed/frame-only + 44 reserved
    level_idc = b.read(8)
    if max_sub_layers:
        present = [(b.read(1), b.read(1)) for _ in range(max_sub_layers)]
        if max_sub_layers < 8:
            b.read(2 * (8 - max_sub_layers))  # reserved alignment
        for prof, lvl in present:
            if prof:
                b.read(88)
            if lvl:
                b.read(8)
    b.ue()  # sps_seq_parameter_set_id
    chroma_format_idc = b.ue()
    if chroma_format_idc == 3:
        b.read(1)  # separate_colour_plane_flag
    width = b.ue()  # pic_width_in_luma_samples
    height = b.ue()  # pic_height_in_luma_samples
    if b.read(1):  # conformance_window_flag
        left, right, top, bottom = b.ue(), b.ue(), b.ue(), b.ue()
        sw, sh = _AVC_SUBWH.get(chroma_format_idc, (1, 1))
        width -= sw * (left + right)
        height -= sh * (top + bottom)
    if width <= 0 or height <= 0:
        raise ValueError("HEVC SPS conformance window exceeds coded size")
    return profile_idc, level_idc, width, height


def encode_hevc_sps(
    width: int,
    height: int,
    profile_idc: int = 1,
    level_idc: int = 120,
) -> bytes:
    """Synthesize a structurally valid H.265 SPS NAL (type 33) for the
    given display dimensions — real profile_tier_level block, 4:2:0
    chroma, a conformance window when a dimension is odd-multiple of
    the chroma unit... dimensions must be even (4:2:0 crop units are
    2 px), same policy as :func:`encode_avc_sps`.  Unlike H.264, HEVC
    states luma dimensions explicitly, so no macroblock rounding is
    involved; the conformance window is emitted only when exercised by
    the caller passing dimensions that need it — here we always emit a
    zero window for structural realism."""
    if width <= 0 or height <= 0 or width % 2 or height % 2:
        raise ValueError("dimensions must be positive and even (4:2:0)")
    w = _MsbBitWriter()
    w.write(0, 4)  # sps_video_parameter_set_id
    w.write(0, 3)  # sps_max_sub_layers_minus1
    w.write(1, 1)  # sps_temporal_id_nesting_flag
    w.write(0, 2)  # general_profile_space
    w.write(0, 1)  # general_tier_flag
    w.write(profile_idc, 5)
    w.write(1 << (31 - profile_idc), 32)  # compatibility: own profile bit
    w.write(0b1000, 4)  # progressive=1, interlaced/non-packed/frame-only=0
    w.write(0, 44)  # reserved/constraint bits
    w.write(level_idc, 8)
    w.write_ue(0)  # sps_seq_parameter_set_id
    w.write_ue(1)  # chroma_format_idc = 4:2:0
    w.write_ue(width)
    w.write_ue(height)
    w.write(0, 1)  # conformance_window_flag
    w.write(1, 1)  # rbsp_stop_one_bit
    w.align()
    # nal type 33, layer 0, tid_plus1 1
    return bytes([33 << 1, 1]) + _add_emulation(bytes(w.out))


def encode_hvcc(sps_nals: Sequence[bytes]) -> bytes:
    """HEVCDecoderConfigurationRecord (ISO 14496-15 §8.3.3.1) wrapping
    the given SPS NALs in one type-33 array — what an ``hvcC`` box /
    Matroska V_MPEGH CodecPrivate carries."""
    if not sps_nals:
        raise ValueError("need at least one SPS")
    prof, lvl, _, _ = parse_hevc_sps(sps_nals[0])
    out = bytearray()
    out.append(1)  # configurationVersion
    out.append(prof & 0x1F)  # profile_space 0, tier 0, profile_idc
    out += (1 << (31 - prof)).to_bytes(4, "big")  # compatibility flags
    out += bytes(6)  # constraint indicator flags
    out.append(lvl)  # general_level_idc
    out += b"\xf0\x00"  # reserved + min_spatial_segmentation_idc
    out += b"\xfc"  # reserved + parallelismType
    out.append(0xFC | 1)  # reserved + chromaFormat 4:2:0
    out.append(0xF8 | 0)  # reserved + bitDepthLumaMinus8
    out.append(0xF8 | 0)  # reserved + bitDepthChromaMinus8
    out += bytes(2)  # avgFrameRate
    out.append(0x03)  # constantFrameRate 0, numTemporalLayers 0,
    #                   temporalIdNested 0, lengthSizeMinusOne 3
    out.append(1)  # numOfArrays
    out.append(0x80 | 33)  # array_completeness=1, NAL_unit_type=33
    out += len(sps_nals).to_bytes(2, "big")
    for nal in sps_nals:
        out += len(nal).to_bytes(2, "big") + nal
    return bytes(out)


def parse_hvcc(data: bytes) -> tuple[int, int, int, int]:
    """Parse an HEVCDecoderConfigurationRecord -> the first type-33
    (SPS) NAL's (profile_idc, level_idc, width, height).  Raises
    ValueError on a bad record or no SPS array."""
    if len(data) < 23 or data[0] != 1:
        raise ValueError("not an hvcC record")
    n_arrays = data[22]
    j = 23
    for _ in range(n_arrays):
        if j + 3 > len(data):
            raise ValueError("truncated hvcC array")
        nal_type = data[j] & 0x3F
        n_nalus = int.from_bytes(data[j + 1 : j + 3], "big")
        j += 3
        for _ in range(n_nalus):
            if j + 2 > len(data):
                raise ValueError("truncated hvcC nalu")
            ln = int.from_bytes(data[j : j + 2], "big")
            nal = data[j + 2 : j + 2 + ln]
            if len(nal) < ln:
                raise ValueError("truncated SPS in hvcC")
            if nal_type == 33:
                return parse_hevc_sps(nal)
            j += 2 + ln
    raise ValueError("hvcC with no SPS array")


def parse_av1_sequence_header(obu: bytes) -> tuple[int, int, int, int]:
    """Decode an AV1 sequence header OBU -> (seq_profile,
    seq_level_idx_0, max_width, max_height) per the AV1 bitstream spec
    §5.5: OBU header (type must be 1), optional leb128 size field,
    then profile / level / operating points and the explicit
    frame-dimension fields (``max_frame_width_minus_1`` over
    ``frame_width_bits_minus_1 + 1`` bits — AV1 states dimensions
    directly, like HEVC and unlike H.264's macroblock rounding).
    Streams with ``timing_info_present_flag`` set raise ValueError
    (an honest boundary: decoder-model timing carries uvlc fields this
    triage has no business guessing at) — callers lane them."""
    if not obu:
        raise ValueError("empty OBU")
    if obu[0] & 0x80:
        raise ValueError("obu_forbidden_bit set")
    obu_type = (obu[0] >> 3) & 0x0F
    if obu_type != 1:
        raise ValueError("not a sequence header OBU")
    has_ext = (obu[0] >> 2) & 1
    has_size = (obu[0] >> 1) & 1
    j = 1 + has_ext
    if has_size:  # leb128 size field — skip it
        while j < len(obu) and obu[j] & 0x80:
            j += 1
        j += 1
    b = _MsbBitReader(obu, j)
    seq_profile = b.read(3)
    still_picture = b.read(1)
    reduced = b.read(1)
    if reduced:
        seq_level_idx_0 = b.read(5)
    else:
        if b.read(1):  # timing_info_present_flag
            raise ValueError("timing_info not supported by this triage")
        # initial_display_delay_present_flag gates per-operating-point
        # delay fields BELOW — it is legal without timing_info (§5.5.1
        # conditions it on nothing; only decoder_model_info nests under
        # timing_info), so it must be consumed, not assumed zero: a
        # spec-legal stream with the flag set would otherwise shift
        # every following bit and misparse dimensions silently.
        delay_present = b.read(1)  # initial_display_delay_present_flag
        op_cnt = b.read(5) + 1
        seq_level_idx_0 = 0
        for i in range(op_cnt):
            b.read(12)  # operating_point_idc
            lvl = b.read(5)
            if i == 0:
                seq_level_idx_0 = lvl
            if lvl > 7:
                b.read(1)  # seq_tier
            # decoder_model_present_for_this_op is 0 on this path (its
            # flag nests under timing_info, which raises above), so the
            # only remaining per-op fields are the display-delay pair:
            if delay_present and b.read(1):
                b.read(4)  # initial_display_delay_minus_1
    wbits = b.read(4) + 1
    hbits = b.read(4) + 1
    width = b.read(wbits) + 1
    height = b.read(hbits) + 1
    _ = still_picture
    return seq_profile, seq_level_idx_0, width, height


def encode_av1_sequence_header(
    width: int,
    height: int,
    seq_profile: int = 0,
    seq_level_idx: int = 8,
    initial_display_delay: int | None = None,
) -> bytes:
    """Synthesize a structurally valid AV1 sequence header OBU for the
    given dimensions — real OBU header with leb128 size, one operating
    point, minimal-width dimension fields.  The fixture twin of
    :func:`parse_av1_sequence_header`.  ``initial_display_delay`` (a
    frame count, 1-16) sets ``initial_display_delay_present_flag`` and
    emits the per-operating-point delay fields — the spec-legal shape
    that exists WITHOUT timing_info and that the parser must consume
    to keep the dimension fields aligned."""
    if width <= 0 or height <= 0:
        raise ValueError("dimensions must be positive")
    if initial_display_delay is not None and not (
        1 <= initial_display_delay <= 16
    ):
        raise ValueError("initial_display_delay must be 1-16 frames")
    w = _MsbBitWriter()
    w.write(seq_profile, 3)
    w.write(0, 1)  # still_picture
    w.write(0, 1)  # reduced_still_picture_header
    w.write(0, 1)  # timing_info_present_flag
    w.write(0 if initial_display_delay is None else 1, 1)
    #        ^ initial_display_delay_present_flag
    w.write(0, 5)  # operating_points_cnt_minus_1
    w.write(0, 12)  # operating_point_idc[0]
    w.write(seq_level_idx, 5)
    if seq_level_idx > 7:
        w.write(0, 1)  # seq_tier[0]
    if initial_display_delay is not None:
        w.write(1, 1)  # initial_display_delay_present_for_this_op[0]
        w.write(initial_display_delay - 1, 4)
    wbits = max((width - 1).bit_length(), 1)
    hbits = max((height - 1).bit_length(), 1)
    w.write(wbits - 1, 4)
    w.write(hbits - 1, 4)
    w.write(width - 1, wbits)
    w.write(height - 1, hbits)
    w.write(1, 1)  # trailing one bit (start of what a real header continues)
    w.align()
    payload = bytes(w.out)
    size = len(payload)
    leb = bytearray()
    while True:  # leb128
        byte = size & 0x7F
        size >>= 7
        leb.append(byte | (0x80 if size else 0))
        if not size:
            break
    return bytes([0x0A]) + bytes(leb) + payload  # type 1, has_size


def encode_av1c(seq_header_obu: bytes) -> bytes:
    """AV1CodecConfigurationRecord (AV1-ISOBMFF §2.3) wrapping the
    given sequence header OBU — what an ``av1C`` box / Matroska V_AV1
    CodecPrivate carries."""
    prof, lvl, _, _ = parse_av1_sequence_header(seq_header_obu)
    return (
        bytes(
            [
                0x81,  # marker + version 1
                ((prof & 0x7) << 5) | (lvl & 0x1F),
                0x0C,  # tier 0, 8-bit, 4:2:0 (subsampling_x/y = 1)
                0x00,  # no initial presentation delay
            ]
        )
        + seq_header_obu
    )


def parse_av1c(data: bytes) -> tuple[int, int, int, int]:
    """Parse an AV1CodecConfigurationRecord -> the sequence header's
    (seq_profile, seq_level_idx_0, width, height).  Raises ValueError
    on a bad record or missing sequence header OBU."""
    if len(data) < 5 or data[0] != 0x81:
        raise ValueError("not an av1C record")
    return parse_av1_sequence_header(data[4:])


def encode_vpcc(profile: int = 0, level: int = 10) -> bytes:
    """VPCodecConfigurationRecord as the ``vpcC`` FullBox body
    (VP9-in-ISOBMFF spec §2.3): version 1 + zero flags, profile,
    level, 8-bit 4:2:0 colour description, no codec init data.  VP9's
    config carries NO dimensions (frames declare their own) — the
    sample entry's declared width/height fields are the triage
    source, which is why :func:`video_stream_params` reports vp09
    dims as declared-not-decoded alongside the vpcC profile/level."""
    return bytes(
        [
            1, 0, 0, 0,  # version + flags (FullBox)
            profile & 0xFF,
            level & 0xFF,
            (8 << 4) | (1 << 1),  # bitDepth 8, chromaSubsampling 4:2:0
            2, 2, 2,  # colour primaries / transfer / matrix (unspecified)
            0, 0,  # codecInitializationDataSize
        ]
    )


def parse_vpcc(data: bytes) -> tuple[int, int]:
    """Parse a ``vpcC`` FullBox body -> (profile, level).  Raises
    ValueError on a bad record."""
    if len(data) < 8 or data[0] != 1:
        raise ValueError("not a vpcC record")
    return data[4], data[5]


#: Decoder-configuration records that carry dimensions: (ISO-BMFF
#: sample-entry child box, Matroska CodecID, parser).
_VIDEO_CONFIGS = (
    (b"avcC", "V_MPEG4/ISO/AVC", parse_avcc),
    (b"hvcC", "V_MPEGH/ISO/HEVC", parse_hvcc),
    (b"av1C", "V_AV1", parse_av1c),
)


def video_stream_params(payload: bytes) -> tuple[str, str, int, int, int, int]:
    """Pixel-level triage for containerized video — (container, codec,
    width, height, profile_idc, level_idc) — from decoder-configuration
    headers only: for MP4, the video trak's stsd AVC sample entry's
    ``avcC`` box (ISO 14496-15) holds the SPS, whose §7.3.2.1 parse
    yields exact display dimensions (frame cropping included) +
    profile/level; for Matroska, the same avcC lives in the
    V_MPEG4/ISO/AVC TrackEntry's CodecPrivate; HEVC (hvcC) and AV1
    (av1C sequence-header OBU) parse the same way; remaining codecs
    (VP9's vpcC carries no dimensions) fall back to the declared
    Video>PixelWidth/PixelHeight elements / sample-entry fields with
    profile/level 0 — declared, not decoded, and labeled as such by
    the zero profile.  Completes the triage matrix the container
    walks (mp4_stream_info/mkv_stream_info) start: duration + codec +
    PIXELS, all before any sample decode.  Raises ValueError on
    non-video payloads — quarantine-lane material (q226)."""
    import struct

    p = payload or b""
    if len(p) >= 12 and p[4:8] == b"ftyp":
        moov = _mp4_child(p, 0, len(p), b"moov")
        if not moov:
            raise ValueError("no moov box")
        for fc, b, e in _mp4_boxes(p, *moov):
            if fc != b"trak":
                continue
            mdia = _mp4_child(p, b, e, b"mdia")
            if not mdia:
                continue
            hd = _mp4_child(p, *mdia, b"hdlr")
            if not hd or p[hd[0] + 8 : hd[0] + 12] != b"vide":
                continue
            minf = _mp4_child(p, *mdia, b"minf")
            stbl = _mp4_child(p, *minf, b"stbl") if minf else None
            stsd = _mp4_child(p, *stbl, b"stsd") if stbl else None
            if not stsd or stsd[0] + 16 > stsd[1]:
                continue
            entry_lo = stsd[0] + 8  # past version/flags + entry_count
            (esize,) = struct.unpack(">I", p[entry_lo : entry_lo + 4])
            codec = (
                p[entry_lo + 4 : entry_lo + 8].decode("latin-1").strip().lower()
            )
            entry_hi = min(entry_lo + esize, stsd[1])
            # child boxes start after the 78-byte VisualSampleEntry body
            for fourcc, _codec_id, parse in _VIDEO_CONFIGS:
                cfg = _mp4_child(p, entry_lo + 8 + 78, entry_hi, fourcc)
                if cfg:
                    prof, lvl, w, h = parse(p[cfg[0] : cfg[1]])
                    return "mp4", codec, w, h, prof, lvl
            # declared dims at fixed VisualSampleEntry offsets; VP9's
            # vpcC adds profile/level (its config carries no dims)
            w = h = prof = lvl = 0
            if entry_lo + 8 + 28 <= entry_hi:
                w, h = struct.unpack(
                    ">HH", p[entry_lo + 8 + 24 : entry_lo + 8 + 28]
                )
            cfg = _mp4_child(p, entry_lo + 8 + 78, entry_hi, b"vpcC")
            if cfg:
                prof, lvl = parse_vpcc(p[cfg[0] : cfg[1]])
            return "mp4", codec, w, h, prof, lvl
        raise ValueError("no video trak")
    if p[:4] == b"\x1a\x45\xdf\xa3":
        for eid, b, e in _ebml_elements(p, 0, len(p)):
            if eid != 0x18538067:  # Segment
                continue
            for i2, b2, e2 in _ebml_elements(p, b, e):
                if i2 != 0x1654AE6B:  # Tracks
                    continue
                for i3, b3, e3 in _ebml_elements(p, b2, e2):
                    if i3 != 0xAE:  # TrackEntry
                        continue
                    ttype, codec, priv = 0, "", b""
                    pw = ph = 0
                    for i4, b4, e4 in _ebml_elements(p, b3, e3):
                        if i4 == 0x83:
                            ttype = int.from_bytes(p[b4:e4], "big")
                        elif i4 == 0x86:
                            codec = (
                                p[b4:e4].decode("latin-1").rstrip("\x00")
                            )
                        elif i4 == 0x63A2:  # CodecPrivate
                            priv = p[b4:e4]
                        elif i4 == 0xE0:  # Video
                            for i5, b5, e5 in _ebml_elements(p, b4, e4):
                                if i5 == 0xB0:
                                    pw = int.from_bytes(p[b5:e5], "big")
                                elif i5 == 0xBA:
                                    ph = int.from_bytes(p[b5:e5], "big")
                    if ttype != 1:
                        continue
                    for _fourcc, codec_id, parse in _VIDEO_CONFIGS:
                        if codec == codec_id and priv:
                            prof, lvl, w, h = parse(priv)
                            return "mkv", codec, w, h, prof, lvl
                    return "mkv", codec, pw, ph, 0, 0
        raise ValueError("no video TrackEntry")
    raise ValueError("not an MP4/Matroska payload")


def sniff_media_payload(payload: bytes) -> tuple[str, str, bool, str]:
    """Classify one media payload from its magic/header bytes alone —
    (container, codec, decodable_here, reason) — WITHOUT decoding any
    pixel/sample data.  ``decodable_here`` mirrors the actual capability
    boundaries of this module's decoders (decode_png_pixels,
    decode_gif_pixels, decode_jpeg_pixels, decode_wav_samples,
    decode_flac_samples, decode_y4m_frames, decode_avi_mjpeg_frames);
    ``reason`` names the wall for the rest (the string a triage report
    groups by).  Never raises on garbage: unknown magic is
    ('unknown', 'unknown', False, 'unrecognized magic')."""
    import struct

    p = payload or b""
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        if len(p) < 29:
            return "png", "png", False, "truncated header"
        depth, color, _c, _f, interlace = p[24:29]
        if depth not in (8, 16) or (depth == 16 and color == 3):
            return "png", "png", False, f"{depth}-bit depth needs Pillow"
        if interlace not in (0, 1):
            return "png", "png", False, "bad interlace method"
        if color not in (0, 2, 3, 4, 6):
            return "png", "png", False, f"color type {color}"
        return "png", "png", True, ""
    if p[:6] in (b"GIF87a", b"GIF89a"):
        return "gif", "lzw", True, ""
    if p[:2] == b"BM":
        import struct as _struct

        # decode_bmp_pixels reads the full 54-byte file+DIB header, so
        # triage must draw the decodable_here line at the same boundary
        # (a 34..53-byte payload parses bpp/compression but the decoder
        # would still raise on the missing offset/size fields)
        if len(p) < 54:
            return "bmp", "bmp", False, "truncated header"
        (bpp,) = _struct.unpack("<H", p[28:30])
        (comp,) = _struct.unpack("<I", p[30:34])
        if comp != 0:
            return "bmp", f"rle{comp}", False, "compressed BMP"
        if bpp not in (8, 24):
            return "bmp", f"rgb{bpp}", False, f"{bpp}-bit BMP"
        return "bmp", f"rgb{bpp}", True, ""
    if p[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(p):
            if p[i] != 0xFF:
                break
            m = p[i + 1]
            if m == 0xFF:
                i += 1
                continue
            if (0xC9 <= m <= 0xCB) or (0xCD <= m <= 0xCF):
                return "jpeg", "jpeg-arithmetic", False, "arithmetic coding"
            if m == 0xC3:
                return "jpeg", "jpeg-lossless", False, "lossless mode"
            if m in (0xC5, 0xC6, 0xC7):
                return "jpeg", "jpeg-hierarchical", False, "hierarchical mode"
            if m in (0xC0, 0xC1, 0xC2):
                kind = {
                    0xC0: "jpeg-baseline",
                    0xC1: "jpeg-extended",
                    0xC2: "jpeg-progressive",
                }[m]
                if i + 9 >= len(p):
                    return "jpeg", kind, False, "truncated SOF"
                prec, nf = p[i + 4], p[i + 9]
                if prec != 8:
                    return "jpeg", kind, False, f"{prec}-bit precision"
                if nf not in (1, 3):
                    return "jpeg", kind, False, f"{nf} components"
                return "jpeg", kind, True, ""
            if m == 0xDA or m == 0xD9:
                break
            if i + 4 > len(p):
                break
            (size,) = struct.unpack(">H", p[i + 2 : i + 4])
            if size < 2:
                break
            i += 2 + size
        return "jpeg", "jpeg", False, "no SOF before SOS/EOI"
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        # the FIRST fmt chunk decides
        for cid, b0, _b1, _size in _riff_chunks(p, 12, len(p)):
            if cid == b"fmt " and b0 + 16 <= len(p):
                (fmt_code,) = struct.unpack("<H", p[b0 : b0 + 2])
                (bits,) = struct.unpack("<H", p[b0 + 14 : b0 + 16])
                if fmt_code == 1 and bits == 16:
                    return "wav", "pcm16", True, ""
                if fmt_code == 1:
                    return "wav", f"pcm{bits}", False, f"{bits}-bit PCM"
                return "wav", f"fmt{fmt_code}", False, "compressed WAV"
        return "wav", "unknown", False, "missing fmt chunk"
    if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
        tag = p[12:16]
        codec = {b"VP8 ": "vp8", b"VP8L": "vp8l", b"VP8X": "vp8x"}.get(
            tag, "unknown"
        )
        return "webp", codec, False, "WebP needs libwebp"
    if p[:4] == b"RIFF" and p[8:12] == b"AVI ":
        # the first video stream header's handler, LIST trees included
        handler = "unknown"
        for cid, b0, _b1 in _avi_chunks(p, 12, len(p)):
            if cid == b"strh" and p[b0 : b0 + 4] == b"vids":
                handler = p[b0 + 4 : b0 + 8].decode("latin-1") or "unknown"
                break
        if handler.upper() == "MJPG":
            return "avi", "mjpeg", True, ""
        return "avi", handler.lower(), False, "inter-coded video needs pyav"
    if p[:9] == b"YUV4MPEG2":
        return "y4m", "rawvideo", True, ""
    if p[:4] == b"fLaC":
        # STREAMINFO data starts at byte 8 (after the metadata block
        # header); bits-per-sample-1 is bits 103..107 of the block, i.e.
        # the low bit of byte 20 and the top 4 bits of byte 21
        if len(p) >= 22:
            bps = (((p[20] & 0x01) << 4) | (p[21] >> 4)) + 1
            if bps != 16:
                return "flac", "flac", False, f"{bps}-bit depth"
        return "flac", "flac", True, ""
    if p[:3] == b"ID3" or (len(p) > 1 and p[0] == 0xFF and p[1] & 0xE0 == 0xE0):
        j = _skip_id3v2(p)
        q = p[j : j + 3]
        if len(q) > 1 and q[0] == 0xFF and (q[1] & 0xF6) == 0xF0:
            # ADTS sync is 12 bits + layer 00 (MP3 layers are 01/10/11,
            # so AAC must be split out before the MPEG-audio catch)
            prof = _ADTS_PROFILES[q[2] >> 6] if len(q) > 2 else "unknown"
            return (
                "aac",
                f"aac-adts-{prof}",
                False,
                "AAC needs a codec library (header triage available)",
            )
        # first-frame Xing/Info/VBRI triage distinguishes the VBR lane
        # (exact declared duration available without walking the file)
        try:
            tag = mp3_vbr_info(p)[0]
        except ValueError:
            tag = "none"
        codec = "mpeg-audio-vbr" if tag in ("xing", "vbri") else "mpeg-audio"
        return "mp3", codec, False, "MP3 needs a codec library"
    if p[4:8] == b"ftyp":
        brand = p[8:12].decode("latin-1", "replace").strip()
        return (
            "mp4",
            brand.lower(),
            False,
            "MP4/AAC needs a codec library (header triage available)",
        )
    if p[:4] == b"\x1a\x45\xdf\xa3":
        # the EBML DocType splits WebM from generic Matroska
        try:
            doctype = mkv_stream_info(p)[0]
        except ValueError:
            doctype = "unknown"
        return (
            "mkv",
            doctype,
            False,
            "Matroska/WebM needs a codec library (header triage available)",
        )
    if p[:4] == b"OggS":
        # the BOS page's first packet names the codec (header triage
        # via ogg_stream_info reads duration off granule positions)
        codec = "unknown"
        if len(p) > 27:
            pkt = p[27 + p[26] :]
            for magic, name in _OGG_ID_MAGIC:
                if pkt[: len(magic)] == magic:
                    codec = name
                    break
        reason = "Ogg needs a codec library"
        if codec in ("vorbis", "opus"):
            reason += " (header triage available)"
        return "ogg", codec, False, reason
    return "unknown", "unknown", False, "unrecognized magic"


def sniff_media(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Codec-sniffing TRIAGE over a mixed media corpus — the budgeting
    pass a 100 TB crawl runs BEFORE any decode: one Arrow-batched
    mapInPandas over the first bytes of each payload emitting (id,
    container, codec, decodable_here, reason), so the job can route
    decodable payloads to the real decoders and the rest to quarantine
    (q226 lanes) — and the owner can see, before paying for a single
    inflate, what fraction of the corpus this engine can decode and
    what codec library the remainder would need.  Header-only: a
    payload costs tens of bytes of inspection regardless of size, and
    nothing raises — garbage classifies as 'unknown'.  Scale shape: a
    pure map pass, no shuffle; the triage report downstream aggregates
    5 small columns."""

    def rows_of(_id, payload):
        yield (_id, *sniff_media_payload(payload))

    return map_payloads(
        df, id_col, payload_col,
        "id long, container string, codec string, "
        "decodable_here boolean, reason string",
        rows_of,
    )


def audio_frame_features(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    frame_len: int = 256,
    on_error: str = "fail",
) -> DataFrame:
    """Framed spectral features over audio payloads (PCM16 WAV or FLAC,
    dispatched on magic by ``decode_audio_samples``) via Arrow-batched
    mapInPandas — the front half of every audio fingerprinting / VAD
    pipeline: the stream splits into non-overlapping ``frame_len``-sample
    frames (trailing partial frame dropped, the standard analysis
    convention) and each frame reports integer-exact energy
    (sum of squared samples) and peak amplitude plus its dominant
    spectral bin (argmax of |rFFT| over bins 1..N/2 — DC excluded, the
    fingerprinting convention).  Energy/peak are integers so oracles
    certify them exactly; the dominant bin is a numpy rFFT argmax whose
    margins are structural (a periodic tone's fundamental), not
    float-fragile.  Row explosion happens inside the Arrow batch —
    samples never leave the UDF.  ``on_error='skip'`` quarantines
    corrupt/unsupported payloads by dropping them (the dhash_images
    crawl-robustness contract) instead of failing the job.  Scale
    shape: one narrow mapInPandas pass; at 100 TB the frame rows (4
    ints) are orders of magnitude smaller than the audio they
    summarize."""

    def rows_of(_id, payload):
        import numpy as np

        _rate, samples = decode_audio_samples(payload)
        arr = np.asarray(samples, dtype=np.int64)
        for k in range(len(arr) // frame_len):
            fr = arr[k * frame_len : (k + 1) * frame_len]
            spec = np.abs(np.fft.rfft(fr.astype(np.float64)))
            yield (
                _id, k, int((fr * fr).sum()), int(np.abs(fr).max()),
                int(np.argmax(spec[1:]) + 1),
            )

    return map_payloads(
        df, id_col, payload_col,
        "id long, frame_index int, energy_sum long, peak_abs int, dom_bin int",
        rows_of, on_error=on_error,
    )


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) — the image-dedup fingerprint
# ---------------------------------------------------------------------------


def decode_image_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Format-dispatching pixel decode: PNG, GIF (palette resolved to
    RGB) and baseline JPEG all return (width, height, channels, raw
    row-major 8-bit samples). ValueError for unknown magic. The
    dispatcher is what lets image-level operators (dHash, resize,
    audits) treat a mixed-format crawl as ONE binary column — at 100 TB
    an image corpus is never single-format."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, indices, palette = decode_gif_pixels(payload)
        # palette lookup as one numpy gather (same constant-factor
        # discipline as the PNG resolve) — never per pixel in Python
        import numpy as np

        idx = np.frombuffer(indices, dtype=np.uint8)
        pal = np.frombuffer(palette, dtype=np.uint8)
        if idx.size and 3 * int(idx.max()) + 3 > pal.size:
            raise ValueError("GIF palette index out of range")
        return w, h, 3, pal.reshape(-1, 3)[idx].tobytes()
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg_pixels(payload)
    if payload[:2] == b"BM":
        return decode_bmp_pixels(payload)
    raise ValueError("unknown image format")


def dhash_reference(width: int, height: int, channels: int, raw: bytes) -> int:
    """Pure-Python reference dHash (64-bit int) used by tests to certify
    the vectorized UDF: integer luma, nearest 9x8 sample grid, bit
    (r,c) = 1 iff the left sample is strictly darker than its right
    neighbor, packed at idx = r*8 + c."""
    def gray(x: int, y: int) -> int:
        o = (y * width + x) * channels
        if channels >= 3:
            return (299 * raw[o] + 587 * raw[o + 1] + 114 * raw[o + 2]) // 1000
        return raw[o]

    val = 0
    for r in range(8):
        y = r * height // 8
        row = [gray(c * width // 9, y) for c in range(9)]
        for c in range(8):
            if row[c] < row[c + 1]:
                val |= 1 << (r * 8 + c)
    return val


def dhash_images(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    on_error: str = "fail",
    normalize_orientation: bool = False,
) -> DataFrame:
    """64-bit perceptual difference-hash (dHash) per image — the standard
    near-duplicate fingerprint for image corpora (crawl dedup a la
    LAION): decode (any supported format via ``decode_image_pixels``),
    integer luma (299/587/114 per mille — exact, engine-portable), a
    nearest-neighbor 9x8 sample grid (floor(c*W/9), floor(r*H/8) — pure
    integer index math, so the hash is closed-form replayable for
    synthetic pixels), and bit (r,c) = 1 iff sample (r,c) is strictly
    darker than sample (r,c+1).

    The hash returns as TWO non-negative 32-bit halves (``dhash_hi`` =
    bits 32..63, ``dhash_lo`` = bits 0..31): signed-64 overflow can
    never occur in any engine, Hamming distance is
    bit_count(xor(hi))+bit_count(xor(lo)), and 16-bit LSH band keys fall
    out of plain shift+mask (operators/dedup.py::hamming_near_pairs).

    ``on_error`` decides what a corrupt/unsupported payload does —
    ``"fail"`` raises (audits, where every byte is accounted for),
    ``"skip"`` drops the row, ``"tag"`` emits it with NULL hash columns
    and the error class in ``err``. At crawl scale this is load-bearing:
    one truncated file in 10^9 must quarantine, not kill a
    1000-executor job. Good rows always carry ``err = NULL``.

    ``normalize_orientation=True`` reads the payload's EXIF orientation
    (JPEG APP1 / PNG eXIf) and rotates/flips the decoded pixels upright
    BEFORE hashing — a phone photo arrives through the crawl in any of
    8 orientations and must fingerprint ONCE (dHash is not rotation-
    invariant, so without this every sideways copy escapes dedup). The
    reported width/height are post-normalization (visual) dims.

    Scale shape: one Arrow-batched mapInPandas projection — payloads
    never leave the UDF, the output row is 6 scalars; downstream dedup
    shuffles 8-byte fingerprints, never pixels."""

    def rows_of(_id, payload):
        import numpy as np

        w, h, ch, raw = decode_image_pixels(payload)
        if normalize_orientation:
            o = exif_orientation(payload)
            if o != 1:
                w, h, raw = orient_pixels(raw, w, h, ch, o)
        a = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, ch).astype(np.int64)
        if ch >= 3:
            g = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
        else:
            g = a[:, :, 0]
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(9) * w) // 9
        s = g[np.ix_(ys, xs)]
        bits = (s[:, :-1] < s[:, 1:]).astype(np.uint64).ravel()
        val = int((bits << np.arange(64, dtype=np.uint64)).sum())
        yield _id, w, h, (val >> 32) & 0xFFFFFFFF, val & 0xFFFFFFFF, None

    return map_payloads(
        df, id_col, payload_col,
        "id long, width int, height int, dhash_hi long, dhash_lo long,"
        " err string",
        rows_of, on_error=on_error,
        tag_row=lambda _id, e: (_id, None, None, None, None, type(e).__name__),
    )
